"""Bounded weighted single-source(-set) shortest paths by min-plus
Bellman-Ford supersteps.

No reference counterpart; textbook label-correcting relaxation (Cormen
et al., Introduction to Algorithms, ch. 24, Bellman-Ford): after k
rounds every vertex holds the minimum weight over paths of at most k
edges from the nearest source — the bounded-hop generalization of
operators/bfs.py from hop counts to additive edge weights.

Superstep shape mirrors bfs.py, on the same frontier driver
(plans/iterate.py): only the FRONTIER (vertices whose distance improved
last round) is joined and checkpointed; the distance table is updated by
anti-join ∪ improved rows and kept LAZY + cached. The improved frame is
flat, so each update reads the previous table once: linear lineage, cut
every _TRUNCATE_EVERY rounds, with no per-round O(V) re-write.
With integer-valued double weights every sum and min is exact
in IEEE double (up to 2^53), so a fixed-round run is hash-comparable
against an unrolled dense-relaxation SQL oracle — the frontier
optimization computes the identical d_k(v) = min(d_{k-1}(v),
min_{(u,v)∈E} d_{k-1}(u) + w(u,v)) fixpoint prefix.
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

# rounds between checkpoints of the lazily cached distance table
_TRUNCATE_EVERY = 8


@dataclass
class SsspResult:
    distances: DataFrame  # (id: long, dist: double) — reached only
    supersteps: int
    converged: bool  # True iff no distance improved before max_rounds
    metrics: list[dict] = field(default_factory=list)
    mode: str = "dataframe"


def _sssp_fast(
    e_pdf: pd.DataFrame,
    sources: DataFrame,
    n: int,
    max_rounds: int,
) -> SsspResult | None:
    """Driver-side vectorized Bellman-Ford: per round, each frontier
    edge contributes exactly one IEEE add (dist[src] + w) and a per-dst
    min — the same scalar operations as the distributed relaxation, so
    distances are bit-identical. Returns None when a source id falls
    outside the dense [0, n) space (caller falls back)."""
    s_df = sources.select("id").distinct()
    s_ids = s_df.toPandas()["id"].to_numpy(dtype=np.int64)
    if len(s_ids) and (s_ids.min() < 0 or s_ids.max() >= n):
        return None
    src = e_pdf["src"].to_numpy(dtype=np.int64)
    dst = e_pdf["dst"].to_numpy(dtype=np.int64)
    w = e_pdf["w"].to_numpy(dtype=np.float64)
    dist = np.full(n, np.inf)
    dist[s_ids] = 0.0
    frontier = np.zeros(n, dtype=bool)
    frontier[s_ids] = True
    n_frontier = len(s_ids)
    metrics: list[dict] = [{"superstep": 0, "improved": n_frontier}]
    steps = 0
    converged = n_frontier == 0
    while steps < max_rounds and n_frontier > 0:
        steps += 1
        live = frontier[src]
        cand = np.full(n, np.inf)
        np.minimum.at(cand, dst[live], dist[src[live]] + w[live])
        improved = cand < dist
        n_frontier = int(improved.sum())
        dist[improved] = cand[improved]
        frontier = improved
        metrics.append({"superstep": steps, "improved": n_frontier})
        if n_frontier == 0:
            converged = True
    reached = np.isfinite(dist)
    out = frame_from_pandas(
        sources.sparkSession,
        pd.DataFrame(
            {
                "id": np.flatnonzero(reached).astype(np.int64),
                "dist": dist[reached],
            }
        ),
    )
    return SsspResult(out, steps, converged, metrics, mode="vectorized")


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str | None = None,
    max_rounds: int = 8,
    fast_path_edges: int = 10_000_000,
) -> SsspResult:
    """Minimum path weight from the nearest source within ``max_rounds``
    edges, along directed ``edges``.

    sources: DataFrame with an ``id`` column (duplicates fine).
    weight_col: positive edge-weight column; None ⇒ unit weights (then
    this is BFS with a double-typed distance). Unreached vertices are
    absent from the result. Negative weights are rejected — with a
    bounded round count Bellman-Ford would still be well-defined, but
    no caller of a *shortest-path* API wants silently negative cycles.

    Small dense-id graphs auto-route to a vectorized numpy tier —
    bit-identical distances (same per-edge add, same per-dst min) —
    under the same bounds/guard/opt-out as the components fast path
    (``SsspResult.mode`` reports which ran).
    """
    num_parts = shuffle_partitions(edges.sparkSession)
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    n_fast = _route_fast(edges, None, fast_path_edges)
    if n_fast is not None:
        e_pdf = edges.select("src", "dst", w.alias("w")).toPandas()
        if len(e_pdf) and e_pdf["w"].min() < 0:
            raise ValueError(
                f"sssp_distances requires non-negative weights "
                f"(found min={e_pdf['w'].min()})"
            )
        fast = _sssp_fast(e_pdf, sources, n_fast, max_rounds)
        if fast is not None:
            return fast
    e = edges.select("src", "dst", w.alias("w"))
    e = e.repartition(num_parts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    if weight_col is not None:
        row = e.agg(F.min("w").alias("wmin")).first()
        if row["wmin"] is not None and row["wmin"] < 0:
            e.unpersist()
            raise ValueError(
                f"sssp_distances requires non-negative weights "
                f"(found min={row['wmin']})"
            )
    else:
        e.count()
    loop = Frontier(max_rounds)
    # no slot for the checkpoints: the lazy distance chain reads them all
    dist, n_frontier = loop.checkpoint(
        sources.select("id")
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .repartition(num_parts, "id")
    )
    frontier = dist
    loop.record(improved=n_frontier, done=n_frontier == 0)
    for step in loop.rounds():
        # best candidate distance through the frontier, map-side partial
        # min
        cand = (
            e.join(frontier, e.src == frontier.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        frontier, n_frontier = loop.checkpoint(
            cand.join(dist, "id", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("id", F.col("cand").alias("dist"))
            .repartition(num_parts, "id")
        )
        loop.record(improved=n_frontier, done=n_frontier == 0)
        if n_frontier == 0:
            continue
        # lazy: cached for its two readers, next round's left join and
        # anti-join (module docstring)
        dist = dist.join(frontier, "id", "left_anti").unionByName(frontier)
        if step % _TRUNCATE_EVERY == 0:
            dist, _ = loop.checkpoint(dist, probe=None)
        else:
            dist = loop.cache(dist, into="dist")
    e.unpersist()
    return SsspResult(
        dist.select("id", "dist"), loop.steps, loop.converged, loop.metrics
    )
