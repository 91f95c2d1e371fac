"""Round-3 wave 7: dataset splits, bigram lift, SCC."""

from __future__ import annotations

import pytest

from parallel_pagerank_spark.functions.splits import (
    DEFAULT_SPLITS,
    assign_split,
    split_case_sql,
)
from parallel_pagerank_spark.functions.text import bigram_lift


def test_assign_split_fractions_and_determinism(spark):
    df = spark.range(20_000).withColumnRenamed("id", "doc_id")
    out = assign_split(df, id_col="doc_id")
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert set(counts) == {"train", "valid", "test"}
    assert abs(counts["train"] / 20_000 - 0.9) < 0.02
    assert abs(counts["valid"] / 20_000 - 0.05) < 0.01
    assert abs(counts["test"] / 20_000 - 0.05) < 0.01
    # deterministic: a second evaluation is identical
    again = assign_split(df, id_col="doc_id")
    assert out.exceptAll(again).count() == 0


def test_assign_split_monotone_growth(spark):
    """Enlarging an earlier split only ever steals rows from later ones:
    every row train owned at 80% it still owns at 90%."""
    df = spark.range(5_000).withColumnRenamed("id", "doc_id")
    small = assign_split(
        df, id_col="doc_id", splits=(("train", 0.8), ("rest", 0.2))
    )
    big = assign_split(
        df, id_col="doc_id", splits=(("train", 0.9), ("rest", 0.1))
    )
    small_train = {
        r["doc_id"] for r in small.filter("split = 'train'").collect()
    }
    big_train = {r["doc_id"] for r in big.filter("split = 'train'").collect()}
    assert small_train <= big_train


def test_assign_split_salt_and_xxhash(spark):
    df = spark.range(5_000).withColumnRenamed("id", "doc_id")
    base = assign_split(df, id_col="doc_id")
    salted = assign_split(df, id_col="doc_id", salt=7)
    # a salt re-deals the split: some rows must move
    joined = base.withColumnRenamed("split", "a").join(
        salted.withColumnRenamed("split", "b"), "doc_id"
    )
    assert joined.filter("a <> b").count() > 0
    xx = assign_split(df, id_col="doc_id", method="xxhash64")
    counts = {r["split"]: r["count"] for r in xx.groupBy("split").count().collect()}
    assert abs(counts["train"] / 5_000 - 0.9) < 0.03
    with pytest.raises(ValueError):
        assign_split(df, id_col="doc_id", method="md5")
    with pytest.raises(ValueError):
        assign_split(df, id_col="doc_id", splits=(("a", 0.5), ("b", 0.4)))


def test_split_sql_mirror_matches_engine(spark):
    """The generated CASE SQL (driver oracle) and the Column expression
    agree row-for-row — run the SQL through Spark itself."""
    df = spark.range(3_000).withColumnRenamed("id", "doc_id")
    df.createOrReplaceTempView("split_probe")
    via_sql = spark.sql(
        f"SELECT doc_id, {split_case_sql('doc_id')} AS split "
        "FROM split_probe"
    )
    via_col = assign_split(df, id_col="doc_id", splits=DEFAULT_SPLITS)
    assert via_col.select("doc_id", "split").exceptAll(via_sql).count() == 0


def test_bigram_lift_hand_checked(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b"),
            (1, "a b c"),
            (2, "c c"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["w1"], r["w2"]): r
        for r in bigram_lift(docs, min_pair_count=1).collect()
    }
    # tokens: a=3 b=3 c=3, total_words=9
    # pairs: (a,b)x3 (b,a)x1 (b,c)x1 (c,c)x1 -> total_pairs=6
    assert got[("a", "b")]["pair_count"] == 3
    assert got[("c", "c")]["pair_count"] == 1
    lift_ab = (3 * 9.0 * 9.0) / (6.0 * 3.0 * 3.0)
    assert got[("a", "b")]["lift"] == pytest.approx(lift_ab)
    assert got[("b", "c")]["c1"] == 3 and got[("b", "c")]["c2"] == 3
    # min_pair_count filters
    only = bigram_lift(docs, min_pair_count=2).collect()
    assert [(r["w1"], r["w2"]) for r in only] == [("a", "b")]


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, ["src", "dst"])


SCC_GRAPH = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3), (5, 6)]


def test_scc_hand_graph_both_tiers(spark):
    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )
    from .oracles import scc_oracle

    want = scc_oracle(SCC_GRAPH, 7)
    df = _edges_df(spark, SCC_GRAPH)
    fast = strongly_connected_components(df)
    assert fast.mode == "vectorized" and fast.converged
    assert {r["id"]: r["scc"] for r in fast.components.collect()} == want
    dist = strongly_connected_components(df, fast_path_edges=0)
    assert dist.mode == "dataframe" and dist.converged
    assert {r["id"]: r["scc"] for r in dist.components.collect()} == want


def test_scc_random_graph_vs_tarjan(spark):
    """Seeded G(n, p) digraph: both tiers must reproduce Tarjan exactly."""
    import random

    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )
    from .oracles import scc_oracle

    rng = random.Random(4242)
    n = 60
    edges = sorted(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(150)
        }
    )
    edges = [(s, t) for s, t in edges if s != t]
    want = scc_oracle(edges, n)
    want.update({v: v for v in range(n) if v not in want})
    df = _edges_df(spark, edges)
    fast = strongly_connected_components(df)
    got_fast = {r["id"]: r["scc"] for r in fast.components.collect()}
    assert got_fast == want
    dist = strongly_connected_components(df, fast_path_edges=0)
    got = {r["id"]: r["scc"] for r in dist.components.collect()}
    assert got == want


def test_scc_dag_and_singletons(spark):
    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )

    # pure DAG: every vertex is its own SCC
    dag = [(0, 1), (1, 2), (0, 2), (2, 3)]
    res = strongly_connected_components(_edges_df(spark, dag))
    assert {r["id"]: r["scc"] for r in res.components.collect()} == {
        i: i for i in range(4)
    }


def test_wrap_edges(spark):
    from parallel_pagerank_spark.sources.events import wrap_edges

    import datetime

    t = lambda s: datetime.datetime(2026, 1, 1, 0, 0, s)
    ev = spark.createDataFrame(
        [
            (10, t(1), 1, "a"),
            (11, t(2), 1, "a"),
            (12, t(3), 1, "b"),
            (20, t(1), 2, "a"),  # single-event user: no wrap edge
            (30, t(2), 3, "b"),
            (31, t(1), 3, "b"),  # earlier ts -> 31 is the first event
        ],
        ["event_id", "ts", "user_id", "event_type"],
    )
    got = sorted(
        (r["src"], r["dst"]) for r in wrap_edges(ev).collect()
    )
    assert got == [(12, 10), (30, 31)]


def test_scc_empty_and_self_loop(spark):
    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )

    loop = strongly_connected_components(_edges_df(spark, [(0, 0), (0, 1)]))
    assert {r["id"]: r["scc"] for r in loop.components.collect()} == {
        0: 0,
        1: 1,
    }


def test_condensation_edges(spark):
    from parallel_pagerank_spark.operators.scc import (
        condensation_edges,
        strongly_connected_components,
    )

    df = _edges_df(spark, SCC_GRAPH)
    res = strongly_connected_components(df)
    cond = {
        (r["src_scc"], r["dst_scc"]): r["n_links"]
        for r in condensation_edges(df, res.components).collect()
    }
    # SCCs: {0,1,2}->0, {3,4,5}->3, {6}->6; cross-edges 2->3 and 5->6
    assert cond == {(0, 3): 1, (3, 6): 1}
    # acyclic: no pair appears in both directions
    assert all((b, a) not in cond for a, b in cond)


def _random_digraph(n=80, m=240, seed=7):
    import random

    rng = random.Random(seed)
    return sorted(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    )


def test_hits_fast_tier_parity(spark):
    from parallel_pagerank_spark.operators.hits import hits

    df = _edges_df(spark, _random_digraph())
    fast = hits(df, max_iter=10)
    slow = hits(df, max_iter=10, fast_path_edges=0)
    assert fast.mode == "vectorized" and slow.mode == "dataframe"
    f = {r["id"]: (r["hub"], r["authority"]) for r in fast.scores.collect()}
    s = {r["id"]: (r["hub"], r["authority"]) for r in slow.scores.collect()}
    assert f.keys() == s.keys()
    for k in f:
        assert f[k][0] == pytest.approx(s[k][0], abs=1e-12)
        assert f[k][1] == pytest.approx(s[k][1], abs=1e-12)


def _without_wall_ms(metrics: list[dict]) -> list[dict]:
    """Metrics records minus the per-round ``wall_ms`` the DataFrame
    tier's driver adds; a DataFrame-tier run must carry it on every
    record."""
    return [{k: v for k, v in r.items() if k != "wall_ms"} for r in metrics]


def test_bfs_fast_tier_parity(spark):
    from parallel_pagerank_spark.operators.bfs import bfs_distances

    df = _edges_df(spark, _random_digraph(seed=11))
    srcs = spark.createDataFrame([(0,), (5,)], ["id"])
    fast = bfs_distances(df, srcs, max_hops=6)
    slow = bfs_distances(df, srcs, max_hops=6, fast_path_edges=0)
    assert fast.mode == "vectorized" and slow.mode == "dataframe"
    f = {r["id"]: r["dist"] for r in fast.distances.collect()}
    s = {r["id"]: r["dist"] for r in slow.distances.collect()}
    assert f == s
    assert fast.converged == slow.converged
    assert _without_wall_ms(fast.metrics) == _without_wall_ms(slow.metrics)
    assert all("wall_ms" in r for r in slow.metrics)
    # undirected variant too
    fu = bfs_distances(df, srcs, max_hops=6, directed=False)
    su = bfs_distances(df, srcs, max_hops=6, directed=False,
                       fast_path_edges=0)
    assert {r["id"]: r["dist"] for r in fu.distances.collect()} == {
        r["id"]: r["dist"] for r in su.distances.collect()
    }


def test_bfs_fast_guard_out_of_range_source(spark):
    """A source id outside the dense edge-id space must fall back to the
    distributed loop, not crash numpy indexing."""
    from parallel_pagerank_spark.operators.bfs import bfs_distances

    df = _edges_df(spark, [(0, 1), (1, 2)])
    srcs = spark.createDataFrame([(0,), (999,)], ["id"])
    res = bfs_distances(df, srcs, max_hops=3)
    assert res.mode == "dataframe"
    got = {r["id"]: r["dist"] for r in res.distances.collect()}
    assert got == {0: 0, 999: 0, 1: 1, 2: 2}


def test_sssp_fast_tier_parity(spark):
    from parallel_pagerank_spark.operators.paths import sssp_distances
    from pyspark.sql import functions as F

    edges = _edges_df(spark, _random_digraph(seed=13))
    wedges = edges.select(
        "src",
        "dst",
        (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5)))
        .cast("double")
        .alias("w"),
    )
    srcs = spark.createDataFrame([(0,), (3,)], ["id"])
    fast = sssp_distances(wedges, srcs, weight_col="w", max_rounds=6)
    slow = sssp_distances(
        wedges, srcs, weight_col="w", max_rounds=6, fast_path_edges=0
    )
    assert fast.mode == "vectorized" and slow.mode == "dataframe"
    f = {r["id"]: r["dist"] for r in fast.distances.collect()}
    s = {r["id"]: r["dist"] for r in slow.distances.collect()}
    assert f == s  # bit-identical doubles
    assert _without_wall_ms(fast.metrics) == _without_wall_ms(slow.metrics)
    assert all("wall_ms" in r for r in slow.metrics)
    # negative weights still rejected on the fast tier
    neg = wedges.withColumn("w", F.col("w") - F.lit(10.0))
    with pytest.raises(ValueError):
        sssp_distances(neg, srcs, weight_col="w", max_rounds=3)


def test_column_quantiles(spark):
    from parallel_pagerank_spark.functions.profile import column_quantiles

    df = spark.createDataFrame([(0,), (10,), (20,), (30,)], ["x"])
    row = column_quantiles(df, "x", probabilities=(0.25, 0.5)).first()
    assert row["q25"] == pytest.approx(7.5)
    assert row["q5"] == pytest.approx(15.0)


def test_pseudo_diameter(spark):
    from parallel_pagerank_spark.operators.bfs import pseudo_diameter

    ring = _edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    row = pseudo_diameter(ring, max_hops=6).first()
    assert (
        row["source_id"],
        row["far_id"],
        row["far_dist"],
        row["diameter_lb"],
        row["n_reached"],
    ) == (0, 3, 3, 3, 4)
    # bounded: budget smaller than the true eccentricity is reported
    # honestly as a lower bound
    row2 = pseudo_diameter(ring, max_hops=2).first()
    assert row2["diameter_lb"] == 2


def test_assign_split_and_quality_on_stream(spark, tmp_path):
    """The stateless corpus operators (split assignment, quality score)
    are pure Column expressions, so the same call works unchanged on a
    Structured Streaming source and agrees with the batch result."""
    from parallel_pagerank_spark.functions.splits import assign_split
    from parallel_pagerank_spark.functions.text import quality_score
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"some text body number {i} with words") for i in range(50)],
        ["doc_id", "text"],
    )
    in_dir = str(tmp_path / "docs_in")
    docs.coalesce(2).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )
    out_stream = assign_split(stream, id_col="doc_id").select(
        "doc_id", "split", quality_score("text").alias("quality")
    )
    out = str(tmp_path / "docs_out")
    ck = str(tmp_path / "docs_ck")
    q = (
        out_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["split"], r["quality"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["split"], r["quality"])
        for r in assign_split(docs, id_col="doc_id")
        .select("doc_id", "split", quality_score("text").alias("quality"))
        .collect()
    }
    assert got == want and len(got) == 50
