"""Vectorized PageRank tier (SURVEY.md §4.3 optional optimization).

The DataFrame loop (operators/pagerank.py) pays a fixed scheduling cost
per superstep whatever the data size. When both the edge list and the rank
vector fit driver memory, ``pagerank()`` routes here instead: one Arrow
collect of the edges, then the reference's SpMV inner loop
(pagerank_mpi.c:176-192) and update/Allreduce (194-213) entirely in numpy
(``np.bincount``), zero Spark jobs per iteration.

The route (``pagerank()`` via ``components._route_fast``) only sends the
default dense vertex rule here, with non-negative ids, N ≤
``fast_path_threshold`` and E ≤ 10^7, so ids always index ``0..N-1``
directly. Anything larger runs the DataFrame loop, the scale path.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import PageRankConfig
from ..session import frame_from_pandas
from .pagerank import PageRankResult


def _pagerank_numpy(
    edges: DataFrame, n: int, cfg: PageRankConfig
) -> PageRankResult:
    """The whole power iteration over ids ``0..n-1`` in numpy after one
    Arrow collect of the edges (np.bincount SpMV). Same arithmetic as the
    distributed loop (w = 1/out_deg precomputed,
    p' = d·(contrib + S/N) + (1−d)/N, L1 stop after update)."""
    spark = edges.sparkSession
    pdf = edges.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    d = cfg.damping
    out_deg = np.bincount(src, minlength=n)
    dangling_mask = out_deg == 0
    w = 1.0 / out_deg[src] if len(src) else np.zeros(0)
    p = np.full(n, 1.0 / n, dtype=np.float64)
    metrics: list[dict] = []
    converged = False
    it = 0
    while it < cfg.max_iter:
        t0 = time.monotonic()
        dangling_sum = float(p[dangling_mask].sum())
        contrib = np.bincount(dst, weights=p[src] * w, minlength=n)
        p_new = d * (contrib + dangling_sum / n) + (1.0 - d) / n
        delta = np.abs(p_new - p)
        l1 = float(delta.sum())
        max_err = float(delta.max())
        p = p_new
        it += 1
        metrics.append(
            {
                "iteration": it,
                "l1": l1,
                "max_err": max_err,
                "wall_ms": (time.monotonic() - t0) * 1000.0,
            }
        )
        if l1 < cfg.tol:
            converged = True
            break
    ranks = frame_from_pandas(
        spark, pd.DataFrame({"id": np.arange(n, dtype=np.int64), "rank": p})
    )
    return PageRankResult(ranks, it, converged, metrics, mode="vectorized")
