"""Strongly connected components by iterative forward/backward min-label
coloring (SURVEY.md §2 extension; no reference counterpart — the MPI
reference treats the graph as given and computes PageRank only, but a
link-graph engine is expected to answer "which vertices are mutually
reachable").

Algorithm (the coloring / FW-BW-label family — Orzan 2004, Hong et al.
PPoPP'13; public literature): per peel round, over the still-active
subgraph compute

  F(v) = min id u (including v) with a directed path u -> v
  B(v) = min id u (including v) with a directed path v -> u

Vertices with F(v) == B(v) == c are settled with scc_id = c: c reaches v
and v reaches c, so v is in SCC(c), and c is then necessarily the MIN id
of that SCC (the true min m mutually reaches v, forcing F(v) <= m and
B(v) <= m, while c in SCC(v) forces c >= m). Settled vertices and their
incident edges are removed and the peel repeats. Each round settles at
least the SCC of the globally minimal active vertex, so the loop
terminates in <= #SCC rounds (in practice a handful: every SCC whose min
vertex "wins" both label races settles in parallel).

Scale shape: each F/B computation is the same synchronous min-label
superstep as connected components (edge ⋈ labels shuffled on the join
key, map-side partial min), and the races, the peel and
:func:`topological_levels` run on the frontier driver of
plans/iterate.py, which checkpoints every round's frames.
Directed propagation has no pointer-jumping shortcut, so supersteps per
fixpoint are O(longest shortest path inside the active subgraph); the
``max_iter`` bound caps runaway chains and is reported via
``converged``. Small dense-id graphs auto-route to a vectorized numpy
tier (same routing discipline, bounds, and negative-id guard as
components._route_fast); the distributed loop is the 100 TB path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import Frontier
from ..session import frame_from_pandas, shuffle_partitions
from .components import _route_fast
from .graph import vertices_from_edges


@dataclass
class SccResult:
    components: DataFrame  # (id: long, scc: long) — scc = min id in SCC
    peel_rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    mode: str = "dataframe"


def _min_label_fixpoint_df(
    edges: DataFrame,
    labels: DataFrame,
    num_parts: int,
    max_iter: int,
) -> tuple[DataFrame, Frontier]:
    """Directed min-label propagation to fixpoint: label(v) <-
    min(label(v), min over in-edges (u, v) of label(u)). ``edges`` must
    already be persisted/partitioned by the caller. Returns the labels
    and the loop, whose ``close`` releases them once read."""
    loop = Frontier(max_iter)
    cur, _ = loop.checkpoint(
        labels.repartition(num_parts, "id"), into="labels", probe=None
    )
    for _ in loop.rounds():
        neigh = (
            edges.join(cur.hint("shuffle_hash"), edges.src == cur.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
        )
        nxt, changed = loop.checkpoint(
            cur.select("id", F.col("label").alias("old"))
            .join(neigh.hint("shuffle_hash"), F.col("id") == neigh.dst, "left")
            .select(
                "id",
                F.col("old"),
                F.least(F.col("old"), F.col("nl")).alias("label"),
            )
            .repartition(num_parts, "id"),
            into="labels",
            probe=lambda df: df.agg(
                F.sum((F.col("label") != F.col("old")).cast("long"))
            ).first()[0],
        )
        cur = nxt.select("id", "label")
        loop.record(done=not changed)
    return cur, loop


def _scc_fast(edges: DataFrame, n: int, max_iter: int) -> SccResult:
    """Driver-side vectorized coloring: same peel loop, numpy min-label
    races. O(E) per superstep; exact (fixpoints run to completion —
    numpy supersteps are microseconds, so max_iter only bounds
    pathological 10^6-long chains, reported via converged)."""
    pdf = edges.select("src", "dst").toPandas()
    src0 = pdf["src"].to_numpy(dtype=np.int64)
    dst0 = pdf["dst"].to_numpy(dtype=np.int64)
    scc = np.full(n, -1, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    src, dst = src0, dst0
    metrics: list[dict] = []
    rounds = 0
    converged = False

    def race(s, d):
        lab = np.arange(n, dtype=np.int64)
        for _ in range(max_iter):
            new = lab.copy()
            np.minimum.at(new, d, lab[s])
            if (new == lab).all():
                return lab, True
            lab = new
        return lab, False

    while rounds < 64:
        rounds += 1
        fwd, ok_f = race(src, dst)
        bwd, ok_b = race(dst, src)
        settled = active & (fwd == bwd)
        if not (ok_f and ok_b) and not settled.any():
            break  # label races truncated and nothing settled: give up
        scc[settled] = fwd[settled]
        active &= ~settled
        metrics.append(
            {"round": rounds, "settled": int(settled.sum())}
        )
        if not active.any():
            converged = True
            break
        keep = active[src] & active[dst]
        src, dst = src[keep], dst[keep]
    # vertices never touched by an edge are their own singleton SCC
    scc[scc < 0] = np.flatnonzero(scc < 0)
    out = frame_from_pandas(
        edges.sparkSession,
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "scc": scc}),
    )
    return SccResult(out, rounds, converged, metrics, mode="vectorized")


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_peel_rounds: int = 16,
    max_iter: int = 200,
    fast_path_edges: int = 10_000_000,
) -> SccResult:
    """SCC labeling: ``scc`` = min vertex id in the strongly connected
    component (singletons label themselves). See module docstring for
    the algorithm and scale shape. DRIVER-MEMORY NOTE: the fast path
    collects the edge list (same footprint/boundaries as
    connected_components's fast tier); pass fast_path_edges=0 to force
    the distributed peel."""
    n_fast = _route_fast(edges, vertices, fast_path_edges)
    if n_fast is not None:
        return _scc_fast(edges, n_fast, max_iter)
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    active_e = (
        edges.select("src", "dst")
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    active_e.count()
    peel = Frontier(max_peel_rounds, key="round")
    active_v, _ = peel.checkpoint(
        vertices.select("id"), into="active", probe=None
    )
    n_active = None
    # settled parts have no slot: the result is their union
    done_parts: list[DataFrame] = []
    for _ in peel.rounds():
        rev = active_e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        init = active_v.select("id", F.col("id").alias("label"))
        fwd, fwd_loop = _min_label_fixpoint_df(
            active_e, init, num_parts, max_iter
        )
        bwd, bwd_loop = _min_label_fixpoint_df(
            rev, init, num_parts, max_iter
        )
        both = fwd.select("id", F.col("label").alias("f")).join(
            bwd.select("id", F.col("label").alias("b")), "id"
        )
        settled, n_settled = peel.checkpoint(
            both.filter(F.col("f") == F.col("b")).select(
                "id", F.col("f").alias("scc")
            )
        )
        fwd_loop.close()
        bwd_loop.close()
        # truncated races that settled nothing: bounded give-up
        gave_up = n_settled == 0 and not (
            fwd_loop.converged and bwd_loop.converged
        )
        if not gave_up:
            done_parts.append(settled)
            active_v, n_active = peel.checkpoint(
                active_v.join(settled, "id", "left_anti"), into="active"
            )
        done = gave_up or n_active == 0
        peel.record(
            settled=n_settled,
            fwd_supersteps=fwd_loop.steps,
            bwd_supersteps=bwd_loop.steps,
            done=done,
        )
        if done:
            continue
        old_e = active_e
        active_e = (
            active_e.join(
                settled.select(F.col("id").alias("src")), "src", "left_anti"
            )
            .join(
                settled.select(F.col("id").alias("dst")), "dst", "left_anti"
            )
            .select("src", "dst")
            .repartition(num_parts, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        active_e.count()
        old_e.unpersist()
    converged = n_active == 0
    active_e.unpersist()
    out = done_parts[0] if done_parts else None
    for part in done_parts[1:]:
        out = out.unionByName(part)
    if out is None:
        out = vertices.select("id", F.col("id").alias("scc")).limit(0)
    if not converged:
        # anything still active after the bounded peel labels itself —
        # callers see converged=False and can raise max_peel_rounds
        out = out.unionByName(
            active_v.select("id", F.col("id").alias("scc"))
        )
    return SccResult(out, peel.steps, converged, peel.metrics)


def condensation_edges(edges: DataFrame, scc: DataFrame) -> DataFrame:
    """Collapse each SCC to a single vertex: the condensation DAG.

    ``scc`` is the (id, scc) labeling from
    :func:`strongly_connected_components`. Returns one row per ordered
    SCC pair with at least one cross-edge:
    (src_scc, dst_scc, n_links) — intra-SCC edges drop out. The result
    is acyclic by construction (textbook property of the condensation).

    Scale shape: two hash joins keyed on the edge endpoints (the SCC
    labeling is usually far smaller than the edge list after dedup, but
    both sides shuffle on their join key and AQE may broadcast the
    labeling when it fits) + one aggregation on the SCC pair.
    """
    s_src = scc.select(
        F.col("id").alias("src"), F.col("scc").alias("src_scc")
    )
    s_dst = scc.select(
        F.col("id").alias("dst"), F.col("scc").alias("dst_scc")
    )
    return (
        edges.select("src", "dst")
        .join(s_src, "src")
        .join(s_dst, "dst")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count("*").alias("n_links"))
    )


@dataclass
class TopoLevelsResult:
    levels: DataFrame  # (id: long, level: long) — longest-path depth
    rounds: int
    converged: bool  # False means a cycle (or depth > max_iter)
    metrics: list[dict] = field(default_factory=list)


def topological_levels(
    dag_edges: DataFrame,
    src_col: str = "src_scc",
    dst_col: str = "dst_scc",
    max_iter: int = 64,
) -> TopoLevelsResult:
    """Longest-path layering of a DAG (topological levels).

    level(v) = 0 for sources, else 1 + max(level(u)) over in-edges — the
    minimal assignment under which every edge goes to a strictly higher
    level, i.e. the canonical parallel-schedule depth of the
    condensation DAG from :func:`condensation_edges` ("how many
    sequential waves does this dependency graph force?"). Vertices on
    the same level are mutually unordered and can run concurrently.

    Synchronous max-relaxation with a CHANGED-delta frontier: per round
    only edges leaving vertices whose level just grew are joined, so
    total work across the run is O(depth-bounded relaxations), not
    O(rounds · E); fixpoint in exactly depth(DAG) rounds (monotone — a
    settled longest path never shrinks). Each round's merged state is
    checkpointed by the frontier driver (plans/iterate.py: the merge
    reads the previous level table twice). A cycle makes levels grow
    forever; the ``max_iter`` bound converts that into converged=False
    instead of a hang — the condensation input is acyclic by
    construction, so False there means max_iter was set below the DAG
    depth.
    """
    num_parts = shuffle_partitions(dag_edges.sparkSession)
    e = (
        dag_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    loop = Frontier(max_iter, key="round")
    levels, n_changed = loop.checkpoint(
        nodes.withColumn("level", F.lit(0).cast("long")).repartition(
            num_parts, "id"
        ),
        into="levels",
    )
    changed = levels
    loop.record(changed=n_changed, done=n_changed == 0)
    grew = F.col("cand") > F.col("level")
    for _ in loop.rounds():
        cand = (
            e.join(changed, e.src == changed.id)
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("level") + F.lit(1)).alias("cand"))
        )
        merged, n_changed = loop.checkpoint(
            levels.join(cand, "id", "left")
            .select(
                "id",
                "level",
                F.coalesce(F.col("cand"), F.lit(-1)).alias("cand"),
            )
            .repartition(num_parts, "id"),
            into="levels",
            probe=lambda df: df.filter(grew).count(),
        )
        changed = merged.filter(grew).select(
            "id", F.col("cand").alias("level")
        )
        levels = merged.select(
            "id",
            F.greatest(F.col("level"), F.col("cand")).alias("level"),
        )
        loop.record(changed=n_changed, done=n_changed == 0)
    e.unpersist()
    return TopoLevelsResult(
        levels.select("id", "level"), loop.steps, loop.converged, loop.metrics
    )


def quotient_graph(
    edges: DataFrame,
    labels: DataFrame,
    label_col: str = "label",
    keep_intra: bool = True,
) -> DataFrame:
    """Coarsen the graph by ANY vertex labeling: one row per ordered
    label pair with at least one edge, ``(src_label, dst_label,
    n_links)`` — the quotient (super-)graph of multilevel graph
    methods, with intra-community edges kept as self-pairs
    (``keep_intra=False`` reproduces :func:`condensation_edges`'s
    cross-edges-only shape for labelings that aren't SCCs).

    Composes with any labeling the engine produces — LPA communities
    (community-to-community traffic), connected components, SCCs, or
    an external assignment. Same scale shape as condensation_edges:
    two endpoint joins + one aggregation on the label pair.
    """
    lab = labels.select("id", F.col(label_col).alias("__lab"))
    s_src = lab.select(
        F.col("id").alias("src"), F.col("__lab").alias("src_label")
    )
    s_dst = lab.select(
        F.col("id").alias("dst"), F.col("__lab").alias("dst_label")
    )
    out = (
        edges.select("src", "dst")
        .join(s_src, "src")
        .join(s_dst, "dst")
    )
    if not keep_intra:
        out = out.filter(F.col("src_label") != F.col("dst_label"))
    return out.groupBy("src_label", "dst_label").agg(
        F.count("*").alias("n_links")
    )
