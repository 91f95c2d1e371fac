"""Multi-source BFS hop distances by synchronous min-plus supersteps.

No reference counterpart; textbook frontier BFS (e.g. Cormen et al.,
Introduction to Algorithms, ch. 22) in its label-relaxation form: start
every source at distance 0, then per round set
``dist(v) = min(dist(v), min over in-edges (u,v) of dist(u) + 1)``.
After k rounds every vertex within k hops of a source holds its exact
hop distance (monotone relaxation — extra rounds never change a settled
value, so a fixed unrolled oracle deeper than the true eccentricity is
exact).

Superstep shape: one edge⋈frontier join shuffled on dst with a map-side
partial min, on the frontier driver of plans/iterate.py, which
checkpoints each round's FRONTIER (newly settled vertices). Only the
frontier is joined each round, so the whole run does Σ|frontier edges| =
E work, not Θ(diameter · E); the anti-join's reference to the settled
set is baked into the flat frontier, so ``settled`` is a plain union of
flat frames, linear in rounds and never re-written per round (an eager
settled checkpoint would re-write O(V·diameter) rows in total).
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


@dataclass
class BfsResult:
    distances: DataFrame  # (id: long, dist: long) — reached vertices only
    supersteps: int
    converged: bool  # True iff the frontier emptied before max_hops
    metrics: list[dict] = field(default_factory=list)
    mode: str = "dataframe"


def _bfs_fast(
    edges: DataFrame,
    sources: DataFrame,
    n: int,
    max_hops: int,
    directed: bool,
) -> BfsResult | None:
    """Driver-side vectorized frontier BFS — integer hop distances, so
    the result is bit-identical to the distributed loop. Returns None
    (caller falls back to the distributed path) when any source id is
    outside the dense [0, n) space the edge list defined."""
    s_ids = sources.select("id").distinct().toPandas()["id"].to_numpy(
        dtype=np.int64
    )
    if len(s_ids) and (s_ids.min() < 0 or s_ids.max() >= n):
        return None
    pdf = edges.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    if not directed:
        src, dst = np.concatenate([src, dst]), np.concatenate([dst, src])
    dist = np.full(n, -1, dtype=np.int64)
    dist[s_ids] = 0
    frontier = np.zeros(n, dtype=bool)
    frontier[s_ids] = True
    n_frontier = len(s_ids)
    metrics: list[dict] = [{"superstep": 0, "frontier": n_frontier}]
    steps = 0
    converged = n_frontier == 0
    while steps < max_hops and n_frontier > 0:
        steps += 1
        cand = dst[frontier[src]]
        nxt = np.zeros(n, dtype=bool)
        nxt[cand] = True
        nxt &= dist < 0
        dist[nxt] = steps
        frontier = nxt
        n_frontier = int(nxt.sum())
        metrics.append({"superstep": steps, "frontier": n_frontier})
        if n_frontier == 0:
            converged = True
    reached = dist >= 0
    out = frame_from_pandas(
        edges.sparkSession,
        pd.DataFrame(
            {
                "id": np.flatnonzero(reached).astype(np.int64),
                "dist": dist[reached],
            }
        )
    )
    return BfsResult(out, steps, converged, metrics, mode="vectorized")


def _frontier_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    keys: list[str],
    max_hops: int,
    directed: bool,
) -> tuple[DataFrame, int, bool, list[dict]]:
    """The distributed frontier loop shared by :func:`bfs_distances`
    (``keys=["id"]``) and :func:`landmark_distances`
    (``keys=["id", "landmark"]``). ``seeds`` holds the distinct ``keys``
    rows at distance 0. Returns ``(settled, supersteps, converged,
    metrics)``; ``settled`` has columns ``keys + ["dist"]``."""
    num_parts = shuffle_partitions(edges.sparkSession)
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.repartition(num_parts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    loop = Frontier(max_hops)
    # no slot anywhere: ``settled`` is the union of every frontier, so the
    # result reads them all
    settled, n_frontier = loop.checkpoint(
        seeds.withColumn("dist", F.lit(0).cast("long")).repartition(
            num_parts, "id"
        )
    )
    frontier = settled
    loop.record(frontier=n_frontier, done=n_frontier == 0)
    for step in loop.rounds():
        # candidates one hop out of the frontier, minus anything already
        # settled (anti-join: settled distances are final — monotonicity)
        frontier, n_frontier = loop.checkpoint(
            e.join(frontier, e.src == frontier.id)
            .select(F.col("dst").alias("id"), *keys[1:])
            .distinct()
            .join(settled, keys, "left_anti")
            .withColumn("dist", F.lit(step).cast("long"))
            .repartition(num_parts, "id")
        )
        # a union of flat (checkpointed) frontiers: lineage grows linearly
        # in rounds (bounded by max_hops) and is never materialized per
        # round, which would re-write the whole O(settled) set each time
        settled = settled.unionByName(frontier)
        loop.record(frontier=n_frontier, done=n_frontier == 0)
    e.unpersist()
    steps, converged = loop.steps, loop.converged
    return settled.select(*keys, "dist"), steps, converged, loop.metrics


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 8,
    directed: bool = True,
    fast_path_edges: int = 10_000_000,
) -> BfsResult:
    """Hop distance from the nearest source along ``edges``.

    sources: DataFrame with an ``id`` column (duplicates fine).
    directed=False symmetrizes first. Unreached vertices are absent from
    the result (callers wanting the dense rule can left-join
    graph.vertices_from_edges). Small dense-id graphs auto-route to a
    vectorized numpy tier — integer distances, bit-identical results —
    under the same bounds/guard/opt-out as the components fast path
    (``BfsResult.mode`` reports which ran)."""
    n_fast = _route_fast(edges, None, fast_path_edges)
    if n_fast is not None:
        fast = _bfs_fast(edges, sources, n_fast, max_hops, directed)
        if fast is not None:
            return fast
    seeds = sources.select("id").distinct()
    return BfsResult(*_frontier_bfs(edges, seeds, ["id"], max_hops, directed))


def distance_histogram(res: BfsResult) -> DataFrame:
    """(dist, n_vertices) — the shape analysts actually read off a BFS."""
    return (
        res.distances.groupBy("dist")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("dist")
    )


@dataclass
class LandmarkResult:
    distances: DataFrame  # (id: long, landmark: long, dist: long)
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def landmark_distances(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 8,
    directed: bool = True,
) -> LandmarkResult:
    """Per-landmark hop distances: for every (vertex, landmark) pair with
    d(landmark → vertex) <= max_hops, one row (id, landmark, dist).

    This is the LABELED variant of :func:`bfs_distances` — the state is
    keyed on (id, landmark) so each landmark's BFS proceeds
    independently, all sharing the SAME per-round edge join (one
    superstep expands every landmark's frontier at once). This is the
    standard landmark / distance-oracle construction (Potamias et al.,
    CIKM 2009, "Fast shortest path distance estimation in large
    networks"): with a small deterministic landmark set L, per-round
    state is O(V·|L|) and d(u,v) is later estimated by
    min_l d(u,l)+d(l,v). Keep |L| small (tens) — it multiplies frontier
    width, not round count.

    Superstep shape (scale design): one edge⋈frontier join shuffled on
    src — the frontier carries (id, landmark) so the join fans out each
    edge once per landmark currently expanding through it — a distinct
    on (dst, landmark), an anti-join against the settled pair set, then
    the frontier checkpoint: the loop of :func:`bfs_distances`, run by
    the shared ``_frontier_bfs`` with the landmark as a second key."""
    seeds = (
        landmarks.select("id")
        .distinct()
        .select("id", F.col("id").alias("landmark"))
    )
    return LandmarkResult(
        *_frontier_bfs(edges, seeds, ["id", "landmark"], max_hops, directed)
    )


def harmonic_centrality(res: LandmarkResult) -> DataFrame:
    """Bounded outward harmonic centrality per landmark:
    h(l) = Σ_{v ≠ l, d(l,v) <= max_hops} 1/d(l,v) (Boldi & Vigna 2014,
    "Axioms for centrality", Internet Mathematics 10(3-4) — the in-graph
    truncated variant). Exact for every vertex within the hop bound; a
    readout aggregation over the landmark BFS, no extra graph pass."""
    return (
        res.distances.filter(F.col("dist") > 0)
        .groupBy("landmark")
        .agg(
            F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
            F.count("*").alias("n_reached"),
        )
    )


def closeness_centrality(res: "LandmarkResult") -> DataFrame:
    """Bounded outward closeness per landmark:
    c(l) = n_reached / Σ_{v, 0 < d(l,v) <= max_hops} d(l,v) — the
    truncated in-ball variant of classic closeness (Bavelas 1950;
    normalization discussion in Boldi & Vigna 2014, "Axioms for
    centrality" — reachable-set closeness). Like
    :func:`harmonic_centrality` it is a pure readout aggregation over
    the landmark BFS (no extra graph pass). Both count and distance sum
    are exact int64; the ratio is ONE IEEE double division, so the
    DuckDB oracle reproduces it bit-identically (no rounding needed —
    contrast the order-sensitive 1/d float sum of harmonic)."""
    return (
        res.distances.filter(F.col("dist") > 0)
        .groupBy("landmark")
        .agg(
            F.count("*").alias("n_reached"),
            F.sum("dist").alias("sum_dist"),
        )
        .withColumn(
            "closeness",
            F.col("n_reached").cast("double") / F.col("sum_dist"),
        )
    )


def pseudo_diameter(
    edges: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Bounded double-sweep diameter lower bound (the classic
    pseudo-diameter heuristic, e.g. Magnien/Latapy/Habib 2009): BFS from
    the minimum source vertex, re-BFS from the farthest vertex found
    (ties broken by min id), report that sweep's eccentricity-within-
    budget. Returns ONE row:
    (source_id, far_id, far_dist, diameter_lb, n_reached).

    Both sweeps are bounded by ``max_hops``, so the result is a lower
    bound within the hop budget — the honest contract at 100 TB, where
    an unbounded sweep on a path-shaped component would be O(diameter)
    barriers. Driver-side state is two 1-row lookups (the sweep
    sources); the sweeps themselves are frontier BFS supersteps (or the
    vectorized tier on small graphs)."""
    spark = edges.sparkSession
    start = edges.agg(F.min("src").alias("m")).first()["m"]
    if start is None:
        return spark.createDataFrame(
            [],
            "source_id long, far_id long, far_dist long, "
            "diameter_lb long, n_reached long",
        )
    s1 = spark.createDataFrame([(int(start),)], "id long")
    b1 = bfs_distances(edges, s1, max_hops=max_hops)
    far = (
        b1.distances.orderBy(F.desc("dist"), F.asc("id")).limit(1).first()
    )
    s2 = spark.createDataFrame([(int(far["id"]),)], "id long")
    b2 = bfs_distances(edges, s2, max_hops=max_hops)
    return b2.distances.agg(
        F.lit(int(start)).cast("long").alias("source_id"),
        F.lit(int(far["id"])).cast("long").alias("far_id"),
        F.lit(int(far["dist"])).cast("long").alias("far_dist"),
        F.max("dist").alias("diameter_lb"),
        F.count("*").alias("n_reached"),
    )
