"""Checkpoint/resume (north rule: superstep state resumable with
per-partition lineage + convergence metrics) and source parsing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from parallel_pagerank_spark.config import PageRankConfig
from parallel_pagerank_spark.operators.pagerank import pagerank
from parallel_pagerank_spark.sources.edgelist import (
    read_edge_list,
    write_edge_list,
)

from .conftest import edges_df
from .oracles import SMALL_GRAPH, pagerank_oracle


def test_checkpoint_manifest_and_resume(spark, tmp_path):
    ck = str(tmp_path / "ck")
    df = edges_df(spark, SMALL_GRAPH)
    # interval 5, the engine default: a durable snapshot every 5
    # supersteps and one at convergence (the manifest checked below)
    # tol 1e-4 (reference default, 16 iters vs 26): the checkpoint
    # CONTRACT is under test, not the tolerance — 1e-6 iteration parity
    # is pinned by test_small_graph_golden
    cfg = PageRankConfig(
        tol=1e-4, checkpoint_dir=ck, checkpoint_interval=5
    )
    res = pagerank(df, config=cfg)
    assert res.converged and res.iterations == 16

    manifest = json.loads((tmp_path / "ck/pagerank/manifest.json").read_text())
    iters = [m["iteration"] for m in manifest]
    assert iters == [5, 10, 15, 16]
    assert manifest[-1]["converged"] is True
    # per-partition lineage recorded
    assert sum(p["rows"] for p in manifest[-1]["partitions"]) == 4
    # convergence metrics carried in the manifest
    assert len(manifest[-1]["metrics"]) == 16
    assert manifest[-1]["metrics"][-1]["l1"] < 1e-4

    # resume from a converged checkpoint: immediate return, same ranks
    res2 = pagerank(df, config=cfg, resume=True)
    assert res2.converged and res2.iterations == 16
    a = {r["id"]: r["rank"] for r in res.ranks.collect()}
    b = {r["id"]: r["rank"] for r in res2.ranks.collect()}
    assert a == b


def test_resume_from_partial_checkpoint(spark, tmp_path):
    """Kill the loop mid-run (max_iter) and resume to convergence: final
    ranks must match the uninterrupted run exactly."""
    ck = str(tmp_path / "ck2")
    df = edges_df(spark, SMALL_GRAPH)
    partial = pagerank(
        df,
        config=PageRankConfig(
            tol=1e-4, checkpoint_dir=ck, checkpoint_interval=5, max_iter=10
        ),
    )
    assert not partial.converged and partial.iterations == 10
    resumed = pagerank(
        df,
        config=PageRankConfig(
            tol=1e-4, checkpoint_dir=ck, checkpoint_interval=5
        ),
        resume=True,
    )
    assert resumed.converged
    # resume restarts from iteration 10 (last checkpoint) and lands on the
    # same fixpoint and total iteration count as the uninterrupted run
    assert resumed.iterations == 16
    oracle_ranks, _, _ = pagerank_oracle(SMALL_GRAPH, tol=1e-4)
    got = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    assert np.allclose(
        [got[i] for i in range(4)], oracle_ranks, atol=1e-6
    )


def test_components_resume_from_partial_checkpoint(spark, tmp_path):
    """Same resume contract for connected components: interrupt the
    min-label loop mid-run, resume from the durable manifest, and land on
    the identical labeling and total superstep count as an unbroken run."""
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )

    ck = str(tmp_path / "ck_cc")
    path_edges = [(i, i + 1) for i in range(11)]  # diameter-11 path
    df = edges_df(spark, path_edges)
    full = connected_components(df, fast_path_edges=0)
    partial = connected_components(
        df, max_iter=5, checkpoint_dir=ck, checkpoint_interval=2
    )
    assert not partial.converged
    resumed = connected_components(
        df, checkpoint_dir=ck, checkpoint_interval=2, resume=True
    )
    assert resumed.converged
    assert resumed.supersteps == full.supersteps == 12
    got = {r["id"]: r["component"] for r in resumed.components.collect()}
    assert got == {i: 0 for i in range(12)}
    # resuming a converged run returns immediately from the manifest
    again = connected_components(
        df, checkpoint_dir=ck, checkpoint_interval=2, resume=True
    )
    assert again.converged and again.supersteps == 12


def test_manifest_keeps_metrics_on_newest_record(spark, tmp_path):
    """The checkpoint manifest carries the metrics list only on its newest
    record, the one a resumed run reads, so it grows O(k) over a run
    rather than O(k^2); resuming still restores every superstep's
    record."""
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )

    ck = str(tmp_path / "ck_manifest")
    df = edges_df(spark, [(i, i + 1) for i in range(11)])  # diameter 11
    full = connected_components(
        df, checkpoint_dir=ck, checkpoint_interval=2
    )
    assert full.converged and full.supersteps == 12
    manifest = json.loads(
        (tmp_path / "ck_manifest/components/manifest.json").read_text()
    )
    assert [m["iteration"] for m in manifest] == [2, 4, 6, 8, 10, 12]
    assert ["metrics" in m for m in manifest] == [False] * 5 + [True]
    assert manifest[-1]["converged"] is True
    assert [r["superstep"] for r in manifest[-1]["metrics"]] == list(
        range(1, 13)
    )
    resumed = connected_components(
        df, checkpoint_dir=ck, checkpoint_interval=2, resume=True
    )
    assert resumed.converged and resumed.supersteps == 12
    assert resumed.metrics == full.metrics


def test_superstep_loops_leave_one_cached_state(spark, tmp_path):
    """Each keyed-state superstep loop keeps exactly one cached frame (the
    returned state) once it returns: every superseded superstep's
    checkpoint is released, also by a run that writes durable
    snapshots."""
    from parallel_pagerank_spark.operators.components import (
        connected_components,
    )
    from parallel_pagerank_spark.operators.labelprop import (
        label_propagation,
    )

    df = edges_df(spark, [(i, i + 1) for i in range(11)] + SMALL_GRAPH)
    # a star no other test salts: the cache matches entries by plan, so a
    # hub frame left by an earlier run of the same graph would hide a leak
    star = edges_df(
        spark, [(0, i) for i in range(1, 60)] + [(i, 0) for i in range(1, 60)]
    )
    runs = {
        "cc": lambda: connected_components(
            df, fast_path_edges=0, max_iter=4
        ).components,
        "cc_durable": lambda: connected_components(
            df,
            checkpoint_dir=str(tmp_path / "ck"),
            checkpoint_interval=2,
            fast_path_edges=0,
        ).components,
        "lpa": lambda: label_propagation(
            df, fast_path_edges=0, max_iter=5
        ).labels,
        "pagerank": lambda: pagerank(
            df, config=PageRankConfig(spmv_mode="shuffle", max_iter=9)
        ).ranks,
        "pagerank_salted": lambda: pagerank(
            star,
            config=PageRankConfig(
                spmv_mode="shuffle", salt_buckets=4, max_iter=6
            ),
        ).ranks,
    }
    rows = {"pagerank_salted": 60}

    def cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    for name, run in runs.items():
        before = cached()
        out = run()
        assert cached() - before <= 1, name
        assert out.count() == rows.get(name, 12), name


def _checkpoints_read(df) -> int:
    """Cached RDDs under the ``LogicalRDD`` leaves of ``df``'s plan: the
    local checkpoints the frame still reads."""
    persistent = df.sparkSession.sparkContext._jsc.sc().getPersistentRDDs()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    ids = {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }
    return sum(bool(persistent.contains(i)) for i in ids)


def test_frontier_loops_release_superseded_checkpoints(spark):
    """A frontier-loop call (plans/iterate.py ``Frontier``) leaves cached
    only the checkpoints its result still reads: every checkpoint a later
    round replaced is released, and the MIS winners once their union is
    consolidated. BFS keeps every round's frontier, because its result is
    their union."""
    from parallel_pagerank_spark.operators.bfs import bfs_distances
    from parallel_pagerank_spark.operators.hits import hits
    from parallel_pagerank_spark.operators.katz import katz_centrality
    from parallel_pagerank_spark.operators.kcore import k_core
    from parallel_pagerank_spark.operators.mis import (
        maximal_independent_set,
    )

    # a graph no other test uses: the cache matches entries by plan
    ring = edges_df(
        spark,
        [(i, (i + 1) % 23) for i in range(23)]
        + [(i, (i + 2) % 23) for i in range(0, 23, 2)]
        + [(23, 24)],
    )
    src = spark.createDataFrame([(0,)], "id long")
    runs = {
        "k_core": lambda: k_core(ring, k=2).core,
        "bfs_distances": lambda: bfs_distances(
            ring, src, max_hops=6, fast_path_edges=0
        ).distances,
        "hits": lambda: hits(ring, max_iter=4, fast_path_edges=0).scores,
        "katz": lambda: katz_centrality(ring, max_iter=4).scores,
        "maximal_independent_set": lambda: maximal_independent_set(
            ring
        ).members,
    }

    def cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    for name, run in runs.items():
        before = cached()
        out = run()
        assert cached() - before <= _checkpoints_read(out), name
        assert out.count() > 0, name


_SCRATCH_CHILD = """
import glob, os, tempfile
from parallel_pagerank_spark import EngineConfig, get_spark
from parallel_pagerank_spark.operators.labelprop import label_propagation

spark = get_spark(master="local[2]", config=EngineConfig(shuffle_partitions=2))
edges = spark.createDataFrame(
    [(i, i + 1) for i in range(12)], "src long, dst long"
)
res = label_propagation(edges, max_iter=5, fast_path_edges=0)
res.labels.count()
print("supersteps", res.supersteps)
scratch = glob.glob(os.path.join(tempfile.gettempdir(), "superstep_*"))
print("scratch", len(scratch))
"""


def test_scratch_snapshot_removed_at_exit(tmp_path):
    """A DataFrame-tier run without a checkpoint dir keeps its state in
    local checkpoints (plans/iterate.py) and writes no snapshot: no
    ``superstep_*`` scratch directory appears in the temp dir, neither
    while the process runs nor after it exits."""
    root = Path(__file__).resolve().parent.parent
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(
            filter(None, [str(root), os.environ.get("PYTHONPATH")])
        ),
    )
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "scratch 0" in out.stdout.splitlines(), out.stdout
    assert not list(tmp_path.glob("superstep_*"))


def test_edge_list_roundtrip(spark, tmp_path):
    df = edges_df(spark, SMALL_GRAPH)
    path = str(tmp_path / "edges_out")
    write_edge_list(df, path)
    back = read_edge_list(spark, path)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(
        SMALL_GRAPH
    )


def test_edge_list_tolerant_parse(spark, tmp_path):
    p = tmp_path / "bad.txt"
    p.write_text(
        "# header comment\n0 1\n1\t2\n\nnot numbers\n3 garbage\n2 0\n# end\n"
    )
    got = read_edge_list(spark, str(p)).collect()
    assert sorted((r["src"], r["dst"]) for r in got) == [
        (0, 1),
        (1, 2),
        (2, 0),
    ]
