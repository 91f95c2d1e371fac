"""HITS (hubs & authorities) by synchronous power iteration.

No reference counterpart; standard published definition (Kleinberg 1999,
"Authoritative sources in a hyperlinked environment", JACM 46(5)): on a
directed graph, authority(v) = Σ_{u→v} hub(u) and hub(u) = Σ_{u→v}
authority(v), alternated and normalized each round. This implementation
normalizes by the L1 norm (sum) instead of Kleinberg's L2 — the score
*ratios* (and therefore the ranking) are identical at every iteration,
and an L1 step keeps every float op a plain sum/divide (mirrored
verbatim by the DuckDB oracle in __spark_entry__._hits_sql).

Scale design: each half-step — the gather sum, its L1 total (a 1-row
broadcast joined back for the divide) — is one lazy plan whose identical
shuffle subtrees Spark reuses (ReusedExchange), checkpointed by the
frontier driver of plans/iterate.py (_l1_normalized reads its input
twice). Two barriers per round: a one-barrier variant (lazy persisted
auth fused into the hub job) planned WORSE under AQE in an interleaved
A/B at sf0.1 (10.3 s vs 7.7 s warm per 10 rounds). Vertices absent from
a half-step's aggregate hold score 0 and contribute nothing to the next
gather, so the loop carries only sparse non-zero rows; the dense vertex
set (graph.vertices_from_edges — 0..max_id, csr_graph.c:27 semantics)
is joined back once at the end.
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
class HitsResult:
    scores: DataFrame  # (id: long, hub: double, authority: double)
    iterations: int
    metrics: list[dict] = field(default_factory=list)
    # "dataframe" = distributed superstep loop (the scale path);
    # "vectorized" = driver-side numpy tier for small dense-id graphs
    mode: str = "dataframe"


def _hits_fast(edges: DataFrame, n: int, max_iter: int) -> HitsResult:
    """Driver-side vectorized HITS: the same sparse L1-normalized
    half-steps as the distributed loop (bincount = the gather sum), so
    score trajectories are identical up to float summation order.
    DRIVER-MEMORY NOTE: same footprint/boundaries as the components
    fast tier; pass fast_path_edges=0 to force the distributed loop."""
    pdf = edges.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    spark = edges.sparkSession
    ids = np.arange(n, dtype=np.int64)
    if len(src) == 0:
        out = frame_from_pandas(
            spark,
            pd.DataFrame(
                {"id": ids, "hub": np.zeros(n), "authority": np.zeros(n)}
            ),
        )
        return HitsResult(out, 0, [], mode="vectorized")
    hub = np.zeros(n)
    n_src = len(np.unique(src))
    hub[src] = 1.0 / n_src
    auth = np.zeros(n)
    metrics: list[dict] = []
    for it in range(1, max_iter + 1):
        a_raw = np.bincount(dst, weights=hub[src], minlength=n)
        auth = a_raw / a_raw.sum()
        h_raw = np.bincount(src, weights=auth[dst], minlength=n)
        hub = h_raw / h_raw.sum()
        metrics.append({"iteration": it})
    out = frame_from_pandas(
        spark, pd.DataFrame({"id": ids, "hub": hub, "authority": auth})
    )
    return HitsResult(out, max_iter, metrics, mode="vectorized")


def _l1_normalized(raw: DataFrame, out_col: str) -> DataFrame:
    """raw(id, s) → (id, out_col = s / Σs) without any driver action: the
    1-row total is broadcast-joined back. Spark plans the total's agg
    over the same exchange as ``raw`` (ReusedExchange), so the extra
    aggregation adds no second shuffle of the data."""
    tot = raw.agg(F.sum("s").alias("_tot"))
    return raw.crossJoin(F.broadcast(tot)).select(
        "id", (F.col("s") / F.col("_tot")).alias(out_col)
    )


def hits(
    edges: DataFrame,
    max_iter: int = 10,
    vertices: DataFrame | None = None,
    fast_path_edges: int = 10_000_000,
) -> HitsResult:
    """Fixed-iteration HITS. ``max_iter`` full authority+hub rounds; L1
    normalization per half-step keeps each score vector summing to 1, so
    a fixed-round run is parity-comparable without a threshold (the
    driver query uses 10 rounds; fixpoints are stable under extra
    rounds). Small dense-id graphs auto-route to a vectorized numpy
    tier (same routing bounds, negative-id guard, and opt-out as the
    components fast path; ``HitsResult.mode`` reports which ran)."""
    n_fast = _route_fast(edges, vertices, fast_path_edges)
    if n_fast is not None:
        return _hits_fast(edges, n_fast, max_iter)
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    # one edge shuffle, reused every round by both half-steps
    e = (
        edges.select("src", "dst")
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = e.count()
    verts = vertices.select("id")
    if n_edges == 0:
        empty = verts.select(
            "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
        e.unpersist()
        return HitsResult(empty, 0, [])
    # sparse start: only vertices WITH out-edges can ever hold non-zero
    # hub score (every in-edge source has an out-edge by definition), so
    # the uniform start over sources yields the same normalized
    # trajectory as the dense uniform start — without a dense row carry
    srcs = e.select(F.col("src").alias("id")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_src = srcs.count()
    hub = srcs.withColumn("hub", F.lit(1.0) / F.lit(float(n_src)))
    loop = Frontier(max_iter, key="iteration")
    for _ in loop.rounds():
        # authority half-step: gather hub mass along in-edges
        a_raw = e.join(hub, e.src == hub.id).groupBy(
            F.col("dst").alias("id")
        ).agg(F.sum("hub").alias("s"))
        auth, _ = loop.checkpoint(
            _l1_normalized(a_raw, "authority"), into="auth", probe=None
        )
        # hub half-step: gather authority mass along out-edges
        h_raw = e.join(auth, e.dst == auth.id).groupBy(
            F.col("src").alias("id")
        ).agg(F.sum("authority").alias("s"))
        hub, _ = loop.checkpoint(
            _l1_normalized(h_raw, "hub"), into="hub", probe=None
        )
        loop.record()
    scores = (
        verts.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )
    e.unpersist()
    srcs.unpersist()
    return HitsResult(scores, max_iter, loop.metrics)
