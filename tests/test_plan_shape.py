"""Physical-plan regression tests: the scale-critical plan properties
(SURVEY.md §4.3 / BENCH/BASELINE.md) asserted against explain() output so a
refactor can't silently reintroduce shuffles or row-at-a-time Python.

These inspect plan STRUCTURE, not timings — they run fast on tiny data.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from .conftest import edges_df
from .oracles import SMALL_GRAPH


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _live_exchanges(df) -> int:
    """Shuffle exchanges the frame's query runs itself: the plan of a
    cached relation or a checkpointed scan is not a child of its scan.
    Plan the frame with adaptive execution off: under AQE the root is an
    ``AdaptiveSparkPlan`` with no children, and the walk would count 0."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        raise ValueError("planned with AQE on: exchanges are not children")

    def walk(node) -> int:
        kids = node.children()
        return (node.nodeName() == "Exchange") + sum(
            walk(kids.apply(i)) for i in range(kids.size())
        )

    return walk(root)


def test_spmv_join_is_coparitioned_zero_shuffle(spark):
    """The per-superstep gather join must not re-shuffle either side when
    edges and ranks are pre-partitioned on the join key: exactly the one
    intended exchange appears downstream (the gather aggregation, which
    also yields the next state), and none sit between the persisted inputs
    and the join. The frames are planned with adaptive execution off, as
    the superstep loop plans its own (plans/iterate.py)."""
    from pyspark.storagelevel import StorageLevel

    from parallel_pagerank_spark.session import adaptive_off

    P = 8
    with adaptive_off(spark):
        edges = (
            edges_df(spark, SMALL_GRAPH)
            .withColumn("w", F.lit(1.0))
            .repartition(P, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        edges.count()
        ranks = (
            spark.range(4)
            .select("id", F.lit(0.25).alias("rank"))
            .repartition(P, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        ranks.count()
        joined = edges.join(
            ranks.hint("shuffle_hash"), edges.src == ranks.id, "inner"
        )
        contribs = joined.groupBy("dst").agg(
            F.sum(F.col("rank") * F.col("w")).alias("contrib")
        )
        # co-partitioned persisted inputs → the join itself introduces NO
        # Exchange (the one-time repartitions belong to the cached
        # relations' own plans, which are not children of their scans)
        assert _live_exchanges(joined) == 0, _plan(joined)
        # exactly ONE live exchange: the contribution aggregation...
        assert _live_exchanges(contribs) == 1, _plan(contribs)
        plan = _plan(contribs)
    live = plan.split("InMemoryRelation")[0]
    assert "ShuffledHashJoin" in live, plan
    assert "BroadcastHashJoin" not in plan, plan
    # ...with map-side partial aggregation (partial + final HashAggregate)
    assert live.count("HashAggregate") == 2, plan
    edges.unpersist()
    ranks.unpersist()


def test_filter_and_projection_pushdown_to_parquet(spark, tmp_path):
    """Predicate + column pruning must reach the parquet scan."""
    path = str(tmp_path / "t")
    spark.range(100).select(
        "id", (F.col("id") * 2).alias("a"), F.lit("x").alias("b")
    ).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("id") > 50).select("a")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,50)]" in plan, plan
    # pruned read schema: only id (filter) and a (projection), never b
    schema_line = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "b:string" not in schema_line, schema_line
    assert "id:bigint" in schema_line and "a:bigint" in schema_line


def test_whole_stage_codegen_covers_text_analysis(spark):
    """Text analysis must stay inside whole-stage codegen (JVM) — no
    Python evaluation nodes in the plan."""
    from parallel_pagerank_spark.functions.text import analyze_documents

    docs = spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id long, text string"
    )
    plan = _plan(analyze_documents(docs))
    # formatted mode marks codegen spans with '* ' and '[codegen id : N]'
    assert "[codegen id" in plan, plan
    for marker in ["BatchEvalPython", "ArrowEvalPython", "MapInPandas"]:
        assert marker not in plan, f"{marker} in text-analysis plan"


def test_no_row_at_a_time_python_udfs_anywhere():
    """input_hint contract: vectorized pandas/Arrow UDFs only — the
    codebase must never call pyspark's row-at-a-time udf()."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    for py in (root / "parallel_pagerank_spark").rglob("*.py"):
        text = py.read_text()
        assert "F.udf(" not in text and "functions.udf(" not in text, py
        assert "@udf" not in text, py


def test_lsh_selfjoin_reads_cached_signatures(spark):
    """The MinHash signature UDF is the most expensive stage of near-dup —
    both sides of the LSH band self-join must read the persisted signature
    cache (InMemoryTableScan twice), never recompute the UDF per side."""
    from parallel_pagerank_spark.functions.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_candidates(docs, num_hashes=16, bands=4))
    # both join sides scan the cache (before the fix: zero InMemoryTableScan
    # and the ArrowEvalPython signature stage planned once PER side)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the only Python eval sits under the cached relation, above no scan
    tree = plan.split("\n(1)")[0]
    assert tree.index("InMemoryTableScan") < tree.index("ArrowEvalPython"), plan


def test_simhash_selfjoin_reads_cached_fingerprints(spark):
    """Same regression for the simhash block-bucket self-join."""
    from parallel_pagerank_spark.functions.dedup import simhash_near_dups

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text") for i in range(8)],
        "doc_id long, text string",
    )
    plan = _plan(simhash_near_dups(docs))
    assert plan.count("InMemoryTableScan") >= 2, plan
    tree = plan.split("\n(1)")[0]
    assert tree.index("InMemoryTableScan") < tree.index("ArrowEvalPython"), plan


def test_dense_id_derivation_no_single_partition_exchange(spark):
    """Dense-id assignment must never funnel data through a one-partition
    window (Exchange SinglePartition): offsets come from range-partitioned
    local cumsums + broadcast per-partition bases."""
    from parallel_pagerank_spark.operators.derive import turn_vertices

    rows = [(f"c{i % 5}", j, "user", "hi", None, None) for i in range(5)
            for j in range(4)]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    plan = _plan(turn_vertices(tr, id_mode="dense"))
    assert "SinglePartition" not in plan, plan


def test_topk_plans_take_ordered(spark):
    """top_k_ranks must plan TakeOrderedAndProject (true distributed
    top-k), not a global sort."""
    from parallel_pagerank_spark.operators.pagerank import top_k_ranks

    ranks = spark.range(100).select(
        "id", (F.col("id") % 7).cast("double").alias("rank")
    )
    plan = _plan(top_k_ranks(ranks, 5))
    assert "TakeOrderedAndProject" in plan, plan


def test_bucketed_join_zero_exchange(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must join with NO
    Exchange on either side (durable cross-session co-location — the
    storage-level answer to the per-superstep shuffle)."""
    from parallel_pagerank_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    edges = spark.range(2000).selectExpr(
        "id AS src", "(id * 7) % 500 AS dst"
    )
    ranks = spark.range(500).selectExpr("id AS src", "rand(1) AS rank")
    write_bucketed(
        edges, "e_bucketed", "src", buckets=8,
        path=str(tmp_path / "e"),
    )
    write_bucketed(
        ranks, "r_bucketed", "src", buckets=8,
        path=str(tmp_path / "r"),
    )
    try:
        joined = read_bucketed(spark, "e_bucketed").join(
            read_bucketed(spark, "r_bucketed").hint("merge"), "src"
        )
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # bucketed scans advertise the bucket count
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS e_bucketed")
        spark.sql("DROP TABLE IF EXISTS r_bucketed")


def test_cooccurrence_derivation_has_no_join(spark):
    """Skew safety: the co-occurrence edge derivation must be a pure
    window pass — lead(id, k) per successor distance — never a per-user
    self-join (which materializes O(n_u²) candidate pairs per user before
    the distance filter: one 10⁶-event power user would mean 10¹²
    join-loop iterations in a single task). This pins the linear
    formulation feeding triangle_count/clustering_coefficient."""
    import datetime

    from parallel_pagerank_spark.sources.events import cooccurrence_edges

    ev = spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1, 0, i % 60), f"u{i % 3}", "t")
            for i in range(12)
        ],
        "event_id long, ts timestamp, user_id string, event_type string",
    )
    plan = _plan(cooccurrence_edges(ev, window=2))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_components_never_materialize_neighborhood_arrays():
    """Hub safety: the components module must never rebuild a vertex
    neighborhood as one array row (collect_set/collect_list) — a
    10^6-degree hub star was verified to complete through
    large_star_small_star with bounded task memory after the join-based
    rewrite; this pins the formulation."""
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parent.parent
        / "parallel_pagerank_spark" / "operators" / "components.py"
    ).read_text()
    assert "F.collect_set(" not in src and "F.collect_list(" not in src


def test_jaccard_join_candidates_are_prefix_filtered(spark):
    """Hot-shingle safety: the exact similarity join must generate
    candidates from PREFIX tokens (df-ranked rarest shingles per set),
    never a raw inverted-index self-join — one stop-shingle in d docs
    would otherwise fan out d² candidate pairs (the committed testdata
    has a shingle hitting 80% of documents). The prefix selection is a
    row_number window over (df, shingle) feeding the self-join; this
    pins that shape."""
    from parallel_pagerank_spark.functions.dedup import (
        jaccard_similarity_join,
    )

    docs = spark.createDataFrame(
        [(i, f"common header payload {i}") for i in range(6)],
        "doc_id long, text string",
    )
    out = jaccard_similarity_join(docs, threshold=0.8)
    plan = _plan(out)
    # the window computing the per-set df-rank must sit in the plan
    assert "Window" in plan, plan
    assert "row_number" in plan, plan
    out.unpersist()


def test_katz_superstep_is_single_shuffle(spark):
    """A Katz superstep is ONE gather aggregation — the contribution
    groupBy(dst) — plus the vertex left-join back. The edge side is
    pre-partitioned and persisted, so no per-round edge re-shuffle may
    appear; this is the minimum shuffle count a gather-scatter can do
    and the plan the oracle mirrors."""
    from parallel_pagerank_spark.operators.katz import katz_centrality

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], "src long, dst long"
    )
    res = katz_centrality(e, max_iter=2)
    # scores are checkpointed per round; the final plan must be flat
    # (truncated lineage), not a 2-round join tower
    plan = _plan(res.scores)
    assert plan.count("Exchange") <= 2, plan


def test_sample_fixed_k_plans_take_ordered(spark):
    """sample_fixed_k must plan TakeOrderedAndProject (per-partition
    top-k heap), never a global Sort of the table."""
    from parallel_pagerank_spark.functions.splits import sample_fixed_k

    df = spark.range(100).select(F.col("id").alias("doc_id"))
    plan = _plan(sample_fixed_k(df, 5))
    assert "TakeOrderedAndProject" in plan, plan


def test_sample_subgraph_is_pure_filter(spark):
    """Vertex-induced sampling must be a scan-side predicate: no join
    against a sampled vertex table, no Exchange anywhere."""
    from parallel_pagerank_spark.operators.graph import sample_subgraph

    edges = spark.range(100).select(
        F.col("id").alias("src"), ((F.col("id") * 7) % 100).alias("dst")
    )
    plan = _plan(sample_subgraph(edges, 0.3))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_decontam_gram_join_is_equi_join(spark):
    """The decontamination join must key on the gram (hash or sort-merge
    equi-join) — never a cartesian/nested-loop pairing of doc sets."""
    from parallel_pagerank_spark.functions.decontam import (
        ngram_contamination,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "b c d e")], "doc_id long, text string"
    )
    plan = _plan(ngram_contamination(docs, docs, n=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _analyzed_joins(df) -> int:
    """Join nodes in the analyzed plan (lineage up to the checkpoints)."""
    tree = df._jdf.queryExecution().analyzed().treeString()
    return sum(
        line.lstrip(" :+-").startswith("Join ") for line in tree.splitlines()
    )


def _assert_frontier_plans_stay_flat(spark, monkeypatch, names):
    """Plan-growth safety of the frontier driver (plans/iterate.py): the
    HITS, BFS, shortest-path, MIS and topological-level steps read the
    previous round's state two or more times (data + L1 total, frontier +
    settled anti-join, candidate + distance join, active set + retired
    neighbours, level table + merge), so without the driver's per-round
    checkpoint each round's plan would double. The analyzed plan of every
    frame the driver checkpoints in each round after the second has as
    many joins as the same frame in round 2. BFS's settled union adds one
    leaf per round but no join; the shortest-path distance table grows a
    join per round and is re-cut every 8 rounds, so its round 10 is
    compared, the last it runs."""
    from parallel_pagerank_spark.operators.bfs import bfs_distances
    from parallel_pagerank_spark.operators.hits import hits
    from parallel_pagerank_spark.operators.mis import (
        maximal_independent_set,
    )
    from parallel_pagerank_spark.operators.paths import sssp_distances
    from parallel_pagerank_spark.operators.scc import topological_levels
    from parallel_pagerank_spark.plans.iterate import Frontier

    rounds: dict[int, list[int]] = {}
    real_checkpoint = Frontier.checkpoint
    # rounds between equal plans: the distance table's re-cut period
    period = {"sssp": 8}

    def sizing_checkpoint(self, df, *args, **kw):
        if self._in_round:
            sizes = rounds.setdefault(self.steps, [])
            sizes.append(_analyzed_joins(df))
            # checked as it is built: a doubling plan soon outgrows memory
            if self.steps > 2 and (self.steps - 2) % period.get(name, 1) == 0:
                assert sizes == rounds[2][: len(sizes)], (name, rounds)
        return real_checkpoint(self, df, *args, **kw)

    monkeypatch.setattr(Frontier, "checkpoint", sizing_checkpoint)
    path = edges_df(spark, [(i, i + 1) for i in range(14)])
    src = spark.createDataFrame([(0,)], "id long")
    ring = edges_df(spark, [(i, (i + 1) % 40) for i in range(40)])
    # 8 x 8 grid: MIS takes 4 rounds
    grid = edges_df(
        spark,
        [(r * 8 + c, r * 8 + c + 1) for r in range(8) for c in range(7)]
        + [(r * 8 + c, r * 8 + c + 8) for r in range(7) for c in range(8)],
    )
    runs = {
        "hits": lambda: hits(ring, max_iter=10, fast_path_edges=0),
        "bfs": lambda: bfs_distances(
            path, src, max_hops=10, fast_path_edges=0
        ),
        "sssp": lambda: sssp_distances(
            path, src, max_rounds=10, fast_path_edges=0
        ),
        "mis": lambda: maximal_independent_set(grid),
        "topo": lambda: topological_levels(path, "src", "dst", max_iter=10),
    }
    for name in names:
        run = runs[name]
        rounds.clear()
        run()
        last = max(rounds)
        assert last >= (3 if name == "mis" else 10), (name, rounds)
        assert rounds[last] == rounds[2], (name, rounds)


def test_superstep_loops_truncate_lineage(spark, monkeypatch):
    """HITS, BFS and shortest paths keep a flat plan per round."""
    _assert_frontier_plans_stay_flat(
        spark, monkeypatch, ("hits", "bfs", "sssp")
    )


def test_mis_and_topo_truncate_lineage(spark, monkeypatch):
    """MIS and topological levels keep a flat plan per round."""
    _assert_frontier_plans_stay_flat(spark, monkeypatch, ("mis", "topo"))


def test_k_truss_single_full_enumeration(spark, monkeypatch):
    """r3 verdict scale fix: peeling must enumerate the FULL wedge set
    exactly once; every subsequent round derives only the dropped
    frontier's triangles (support maintained by subtraction). A cascade
    graph forces >= 2 peel rounds; _support may still run only once and
    no final recomputation is allowed either."""
    from parallel_pagerank_spark.operators import truss

    calls = {"full": 0}
    real_support = truss._support

    def counting_support(cur):
        calls["full"] += 1
        return real_support(cur)

    monkeypatch.setattr(truss, "_support", counting_support)
    # triangle strip: peeling the (2,4),(3,4) end at k=4 cascades
    strip = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(strip, "src long, dst long")
    res = truss.k_truss(df, k=4)
    res.truss_edges.collect()
    assert res.converged
    assert res.rounds >= 2, "cascade case must take multiple peels"
    assert calls["full"] == 1
    assert res.full_enumerations == 1


def _logical_joins(df) -> int:
    """Join nodes in the un-truncated logical plan (lineage included)."""
    tree = df._jdf.queryExecution().logical().treeString()
    return sum(
        line.lstrip(" :+-").startswith("Join ") for line in tree.splitlines()
    )


def test_keyed_superstep_plan_grows_linearly(spark, monkeypatch):
    """Each keyed-state superstep's state is a local checkpoint, so its
    logical plan does not grow at all: the join count of the state is the
    same after every superstep (growth 0). A state that kept its lineage
    would add the superstep's gather join every superstep, and a second
    reference to the state (an update join against it) would double the
    plan (the hazard documented at plans/iterate.py). No run converges
    within its 4 supersteps."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.plans.iterate import SuperstepState

    path = edges_df(spark, [(i, i + 1) for i in range(12)])
    star = edges_df(
        spark, [(0, i) for i in range(1, 40)] + [(i, 0) for i in range(1, 40)]
    )

    def pr(graph, **kw):
        cfg = PageRankConfig(tol=0.0, max_iter=4, **kw)
        return lambda: pagerank(graph, config=cfg)

    runs = {
        "pagerank/broadcast": pr(path, spmv_mode="broadcast"),
        "pagerank/shuffle": pr(path, spmv_mode="shuffle"),
        "pagerank/salted": pr(star, spmv_mode="shuffle", salt_buckets=4),
        "cc": lambda: connected_components(
            path, max_iter=4, fast_path_edges=0
        ),
        "lpa": lambda: label_propagation(path, max_iter=4, fast_path_edges=0),
    }
    joins: list[int] = []
    real_advance = SuperstepState.advance

    def counting_advance(self, *args):
        out = real_advance(self, *args)
        joins.append(_logical_joins(out))
        return out

    monkeypatch.setattr(SuperstepState, "advance", counting_advance)
    for name, run in runs.items():
        joins.clear()
        res = run()
        assert not res.converged, name
        assert len(joins) == 4, name
        assert joins == [joins[0]] * 4, (name, joins)


def test_superstep_frames_keep_one_live_exchange(spark, monkeypatch):
    """Each superstep frame the keyed driver hands to ``localCheckpoint``
    runs exactly one exchange, its gather aggregation: the checkpointed
    state keeps the hash partitioning on its key, so the gather join
    against the edge table (partitioned on the same key) shuffles neither
    side, the first superstep's join against the starting state included
    (plans/iterate.py). ``test_spmv_join_is_coparitioned_zero_shuffle``
    shows the same for hand-persisted frames; this goes through the
    driver itself."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )
    from parallel_pagerank_spark.operators.pagerank import pagerank

    df_cls = type(spark.range(1))
    real_checkpoint = df_cls.localCheckpoint
    exchanges: list[int] = []

    def counting_checkpoint(self, *args, **kw):
        exchanges.append(_live_exchanges(self))
        return real_checkpoint(self, *args, **kw)

    monkeypatch.setattr(df_cls, "localCheckpoint", counting_checkpoint)
    path = edges_df(spark, [(i, i + 1) for i in range(12)])
    runs = {
        "cc": lambda: connected_components(
            path, max_iter=4, fast_path_edges=0
        ).supersteps,
        "pagerank/shuffle": lambda: pagerank(
            path,
            config=PageRankConfig(spmv_mode="shuffle", tol=0.0, max_iter=7),
        ).iterations,
    }
    for name, run in runs.items():
        exchanges.clear()
        supersteps = run()
        # the starting state's checkpoint, then one per superstep
        assert len(exchanges) == supersteps + 1, (name, exchanges)
        assert exchanges[1:] == [1] * supersteps, (name, exchanges)


def test_superstep_action_is_one_job(spark, monkeypatch):
    """Each keyed superstep's fused action runs exactly one Spark job: the
    loop plans its queries with adaptive execution off (with it on, every
    action ran 4 jobs; plans/iterate.py). The caller's setting of
    ``spark.sql.adaptive.enabled`` reads the same after the loop returns
    and after a superstep raises."""
    from parallel_pagerank_spark.config import PageRankConfig
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.plans.iterate import SuperstepState

    sc = spark.sparkContext
    aqe = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(aqe)
    path = edges_df(spark, [(i, i + 1) for i in range(12)])
    groups: list[str] = []
    real_run = SuperstepState.run

    def tagged_run(self, init, step, observe, *args, **kw):
        def tagged_step(df):
            out = step(df)
            # between here and ``observe`` the loop persists the next frame
            # (no job) and runs the fused action
            groups.append(f"superstep-action-{uuid.uuid4().hex}")
            sc.setJobGroup(groups[-1], "fused superstep action")
            return out

        def untagged_observe(iteration, row):
            sc._jsc.clearJobGroup()
            return observe(iteration, row)

        try:
            return real_run(
                self, init, tagged_step, untagged_observe, *args, **kw
            )
        finally:
            sc._jsc.clearJobGroup()

    monkeypatch.setattr(SuperstepState, "run", tagged_run)
    runs = {
        # 6 supersteps, each state a lazy local checkpoint that the
        # fused action materializes
        "pagerank/shuffle": lambda: pagerank(
            path,
            config=PageRankConfig(spmv_mode="shuffle", tol=0.0, max_iter=6),
        ),
        "cc": lambda: connected_components(
            path, max_iter=4, fast_path_edges=0
        ),
        "lpa": lambda: label_propagation(path, max_iter=4, fast_path_edges=0),
    }
    tracker = sc.statusTracker()
    for name, run in runs.items():
        groups.clear()
        run()
        jobs = [len(tracker.getJobIdsForGroup(g)) for g in groups]
        assert jobs and jobs == [1] * len(jobs), (name, jobs)
        assert spark.conf.get(aqe) == prior, name

    def failing_run(self, init, step, observe, *args, **kw):
        def boom(df):
            raise RuntimeError("superstep failed")

        return real_run(self, init, boom, observe, *args, **kw)

    monkeypatch.setattr(SuperstepState, "run", failing_run)
    with pytest.raises(RuntimeError, match="superstep failed"):
        connected_components(path, max_iter=2, fast_path_edges=0)
    assert spark.conf.get(aqe) == prior


def test_triangle_count_reuses_exchanges(spark):
    """``triangle_count`` plans its query with adaptive execution off, so
    the canonical edge set and the degree table, referenced many times by
    the degree-oriented plan, are each computed once and then read as
    ``ReusedExchange`` (operators/triangles.py). On this cached input a
    degree-oriented call runs 5 Spark jobs and an ordered one 3; with AQE
    on they ran 23 and 7. The caller's ``spark.sql.adaptive.enabled``
    reads the same after a return and after an unknown ``method``
    raises."""
    from parallel_pagerank_spark.operators.triangles import triangle_count

    sc = spark.sparkContext
    aqe = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(aqe)
    # K4 on 0-3 plus the triangle 3-4-5, a reversed duplicate, a self-loop
    # and a pendant edge
    edges = edges_df(
        spark,
        [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (2, 3), (3, 4), (4, 5),
         (5, 3), (1, 0), (2, 2), (5, 6)],
    ).cache()
    edges.count()
    tracker = sc.statusTracker()
    try:
        for method, most in (("degree_oriented", 5), ("ordered", 3)):
            group = f"triangle-count-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "triangle_count")
            try:
                assert triangle_count(edges, method) == 5, method
            finally:
                sc._jsc.clearJobGroup()
            jobs = len(tracker.getJobIdsForGroup(group))
            assert jobs <= most, (method, jobs)
            assert spark.conf.get(aqe) == prior, method
        with pytest.raises(ValueError, match="unknown method"):
            triangle_count(edges, "bogus")
        assert spark.conf.get(aqe) == prior
    finally:
        edges.unpersist()


def test_frontier_loop_jobs_per_call(spark):
    """Spark jobs of one call of each frontier-loop operator
    (plans/iterate.py ``Frontier``) on a fixed 36-vertex graph, the
    DataFrame tier forced. Each bound is the count the hand-written loop
    the driver replaced ran; k-truss now runs 5 (7 before): one action
    counts its edges and next drops. The calls plan without adaptive
    execution: under it the counts wander between runs of the same code
    (colouring read 82-86), as it re-plans around the order in which
    stages finish.
    """
    from parallel_pagerank_spark.operators import (
        bfs,
        coloring,
        components,
        hits,
        katz,
        kcore,
        matching,
        mis,
        neighborhood,
        paths,
        scc,
        truss,
        walks,
    )
    from parallel_pagerank_spark.session import adaptive_off

    sc = spark.sparkContext
    pairs = (
        [(i, (i * 7 + 3) % 30) for i in range(30)]
        + [(i, (i + 1) % 30) for i in range(0, 30, 3)]
        + [(i, i + 30) for i in range(0, 30, 5)]
    )
    edges = edges_df(spark, pairs)
    # ids past the vectorized route's bound: pseudo_diameter has no opt-out
    far = 60_000_001
    sparse = edges_df(spark, [(a * far, b * far) for a, b in pairs])
    src = spark.createDataFrame([(0,), (5,)], "id long")
    dag = edges_df(
        spark, [(0, 1), (1, 2), (2, 3), (0, 4), (4, 3), (3, 5), (5, 6), (1, 6)]
    )
    # two cycles and a tail: SCC peels each race to a fixpoint
    cycles = edges_df(
        spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5)]
    )
    weighted = edges.withColumn("w", (F.col("src") % 3 + 1).cast("double"))
    calls = {
        "bfs_distances": (21, lambda: bfs.bfs_distances(
            edges, src, max_hops=6, fast_path_edges=0)),
        "landmark_distances": (15, lambda: bfs.landmark_distances(
            edges, src, max_hops=4)),
        "pseudo_diameter": (28, lambda: bfs.pseudo_diameter(
            sparse, max_hops=4)),
        "large_star_small_star": (13, lambda: (
            components.large_star_small_star(edges, fast_path_edges=0))),
        "sssp_distances": (21, lambda: paths.sssp_distances(
            weighted, src, weight_col="w", max_rounds=6,
            fast_path_edges=0)),
        "strongly_connected_components": (56, lambda: (
            scc.strongly_connected_components(cycles, fast_path_edges=0))),
        "topological_levels": (23, lambda: scc.topological_levels(
            dag, "src", "dst")),
        "k_core": (6, lambda: kcore.k_core(edges, k=2)),
        "k_truss": (5, lambda: truss.k_truss(edges, k=3)),
        "katz_centrality": (14, lambda: katz.katz_centrality(
            edges, max_iter=5)),
        "hits": (27, lambda: hits.hits(
            edges, max_iter=4, fast_path_edges=0)),
        "maximal_independent_set": (11, lambda: (
            mis.maximal_independent_set(edges))),
        "maximal_matching": (19, lambda: matching.maximal_matching(edges)),
        "greedy_coloring": (41, lambda: coloring.greedy_coloring(edges)),
        "deterministic_walks": (15, lambda: walks.deterministic_walks(
            edges, src, walk_length=4)),
        "neighborhood_sketches": (16, lambda: (
            neighborhood.neighborhood_sketches(
                edges, max_rounds=4, num_registers=4))),
    }
    tracker = sc.statusTracker()
    for name, (most, call) in calls.items():
        group = f"frontier-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            with adaptive_off(spark):
                call()
        finally:
            sc._jsc.clearJobGroup()
        jobs = len(tracker.getJobIdsForGroup(group))
        assert jobs <= most, (name, jobs)


def test_vectorized_tiers_hand_back_arrow_batches(spark, monkeypatch):
    """The vectorized PageRank, CC, LPA, HITS (both returns), BFS,
    shortest-path and SCC tiers hand their numpy results back as an RDD
    of Arrow batches (``session.frame_from_pandas``), not a
    ``LocalRelation`` the driver decoded row by row, and their route
    aggregate runs as one job with AQE off. The session's local-relation
    threshold and AQE setting read the same afterwards, also when
    ``createDataFrame`` raises."""
    from parallel_pagerank_spark.operators.bfs import bfs_distances
    from parallel_pagerank_spark.operators.components import (
        _route_fast,
        connected_components,
    )
    from parallel_pagerank_spark.operators.hits import _hits_fast, hits
    from parallel_pagerank_spark.operators.labelprop import label_propagation
    from parallel_pagerank_spark.operators.pagerank import pagerank
    from parallel_pagerank_spark.operators.paths import sssp_distances
    from parallel_pagerank_spark.operators.scc import (
        strongly_connected_components,
    )
    from parallel_pagerank_spark.session import frame_from_pandas

    threshold = "spark.sql.execution.arrow.localRelationThreshold"
    aqe = "spark.sql.adaptive.enabled"
    prior = (spark.conf.get(threshold), spark.conf.get(aqe))
    df = edges_df(spark, SMALL_GRAPH)
    sc = spark.sparkContext
    group = f"route-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "route")
    try:
        assert _route_fast(df, None, 10) == 4
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    src = spark.createDataFrame([(0,)], "id long")
    no_edges = spark.createDataFrame([], "src long, dst long")
    for res, frame in (
        (pagerank(df), "ranks"),
        (connected_components(df), "components"),
        (label_propagation(df, max_iter=10), "labels"),
        (hits(df), "scores"),
        (_hits_fast(no_edges, 3, 2), "scores"),
        (bfs_distances(df, src), "distances"),
        (sssp_distances(df, src), "distances"),
        (strongly_connected_components(df), "components"),
    ):
        assert res.mode == "vectorized", frame
        plan = getattr(res, frame)._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LogicalRDD", (frame, plan.toString())
        assert (spark.conf.get(threshold), spark.conf.get(aqe)) == prior

    def fail(*args, **kwargs):
        raise RuntimeError("createDataFrame failed")

    monkeypatch.setattr(spark, "createDataFrame", fail)
    with pytest.raises(RuntimeError, match="createDataFrame failed"):
        frame_from_pandas(spark, None)
    assert spark.conf.get(threshold) == prior[0]
