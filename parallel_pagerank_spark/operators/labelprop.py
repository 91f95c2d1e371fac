"""Label propagation clustering (SURVEY.md §2 E4).

No reference counterpart; mandated by the north rule. Synchronous LPA
(Raghavan et al. 2007, synchronous deterministic variant): every superstep,
each vertex with at least one neighbor adopts the most frequent label among
its neighbors, ties broken by MIN label; isolated vertices keep their own id.
Deterministic by construction (no random visit order). Stops when labels are
globally stable or after ``max_iter`` supersteps (synchronous LPA can
oscillate on bipartite structures, so a fixed cap is part of the contract).

Plan shape per superstep: edges ⋈ labels (gather neighbor labels) →
groupBy(dst, label).count (label frequencies) → per-vertex argmax via
max_by on the (count, -label) pair — a single aggregation, no window sort.
The edge table carries a self-row (v, v) per vertex (not counted as a
neighbor), so the vertex's old label arrives through the same join and the
labels are referenced once per superstep.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import SuperstepState
from ..session import frame_from_pandas, shuffle_partitions
from .components import (
    _changed_count,
    _neighbors_with_self,
    _observe_changed,
    _own,
    _route_fast,
)
from .graph import vertices_from_edges


@dataclass
class LabelPropagationResult:
    labels: DataFrame  # (id: long, label: long)
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    mode: str = "dataframe"  # or "vectorized" (driver-side numpy fast path)


def _label_propagation_fast(
    edges: DataFrame, n: int, max_iter: int
) -> LabelPropagationResult:
    """Driver-side synchronous LPA (numpy) — EXACTLY the distributed
    semantics: per step every vertex with >=1 neighbor takes the most
    frequent neighbor label, ties to the MIN label; early stop when
    stable. Per-step cost: one ``np.sort`` of the single int64 key
    ``u * n + labels[v]`` over the symmetric edge list; the key is below
    ``n**2 <= 2.5e15`` under ``_FAST_MAX_NODES``, the bound the
    symmetrize key ``s * n + d`` already relies on."""
    spark = edges.sparkSession
    pdf = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).toPandas()
    s = pdf["src"].to_numpy(dtype=np.int64)
    d = pdf["dst"].to_numpy(dtype=np.int64)
    # symmetrize + dedup, mirroring graph.symmetrize(): each undirected
    # neighbor counts ONCE per direction
    key = np.unique(
        np.concatenate([s * n + d, d * n + s])
    )
    u = key // n
    v = key % n
    labels = np.arange(n, dtype=np.int64)
    metrics: list[dict] = []
    steps = 0
    converged = False
    while steps < max_iter:
        t0 = time.monotonic()
        new_labels = labels.copy()
        if len(u):  # without a non-self edge every label stays
            # (u, label) groups, label-ascending within each u
            ul = np.sort(u * n + labels[v])
            starts = np.flatnonzero(np.r_[True, ul[1:] != ul[:-1]])
            counts = np.diff(np.r_[starts, len(ul)])
            gu = ul[starts] // n
            ustarts = np.flatnonzero(np.r_[True, gu[1:] != gu[:-1]])
            best = np.maximum.reduceat(counts, ustarts)
            sizes = np.diff(np.r_[ustarts, len(gu)])
            top = np.flatnonzero(counts == np.repeat(best, sizes))
            # per vertex, the first group at the max count has the min
            # label among the most frequent
            win = top[np.r_[True, gu[top][1:] != gu[top][:-1]]]
            new_labels[gu[win]] = ul[starts[win]] % n
        changed = int((new_labels != labels).sum())
        steps += 1
        metrics.append(
            {
                "superstep": steps,
                "changed": changed,
                "wall_ms": (time.monotonic() - t0) * 1000.0,
            }
        )
        converged = changed == 0
        labels = new_labels
        if converged:
            break
    out = frame_from_pandas(
        spark,
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "label": labels}),
    )
    return LabelPropagationResult(
        out, steps, converged, metrics, mode="vectorized"
    )


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 10,
    fast_path_edges: int = 10_000_000,
) -> LabelPropagationResult:
    """Synchronous LPA. Small dense-id graphs auto-route to the vectorized
    fast path (identical labels per step); fast_path_edges=0 opts out."""
    n_fast = _route_fast(edges, vertices, fast_path_edges)
    if n_fast is not None:
        return _label_propagation_fast(edges, n_fast, max_iter)
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    sym = _neighbors_with_self(edges, vertices, num_parts)

    def step(labels: DataFrame):
        is_self = F.col("src") == F.col("dst")
        freq = (
            sym.join(
                labels.hint("shuffle_hash"), sym.src == labels.id, "inner"
            )
            .groupBy("dst", "label")
            .agg(
                F.count(F.when(~is_self, 1)).alias("cnt"),
                # non-null on the group of the vertex's own label only
                _own("label"),
            )
        )
        # argmax by (cnt desc, label asc): max_by over the ordered struct
        # (cnt, -label) — one aggregation instead of a window + row_number.
        # A self-row-only group has a null key and never wins; a vertex
        # without neighbors keeps its old label.
        new_labels = (
            freq.groupBy("dst")
            .agg(
                F.max_by(
                    F.col("label"),
                    F.when(
                        F.col("cnt") > 0,
                        F.struct(F.col("cnt"), (-F.col("label")).alias("neg")),
                    ),
                ).alias("new_label"),
                F.max("old_label").alias("old_label"),
            )
            .filter(F.col("old_label").isNotNull())
            .select(
                F.col("dst").alias("id"),
                "old_label",
                F.coalesce(F.col("new_label"), F.col("old_label")).alias(
                    "label"
                ),
            )
        )
        return new_labels, [_changed_count()]

    labels, steps, converged, metrics = SuperstepState(num_parts, "id").run(
        lambda: vertices.select("id", F.col("id").alias("label")),
        step,
        _observe_changed,
        max_iter,
    )
    sym.unpersist()
    return LabelPropagationResult(labels, steps, converged, metrics)
