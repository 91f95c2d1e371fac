"""Katz centrality by synchronous power iteration.

No reference counterpart; standard published definition (Katz 1953, "A
new status index derived from sociometric analysis", Psychometrika
18(1)): x(v) = Σ_k α^k · (number of length-k walks ending at v), computed
iteratively as x_{t+1}(v) = β + α · Σ_{u→v} x_t(u) with x_0 = β·1.
Converges for α < 1/λ_max; a FIXED iteration count (the driver query
uses 20) makes the trajectory engine-portable and oracle-comparable
without an eigenvalue estimate.

Scale design — same skeleton as PageRank's distributed loop
(the keyed-state superstep driver in plans/iterate.py): the edge set is shuffled ONCE on src
and persisted; every superstep is one co-partitioned gather join +
a hash aggregation on dst + a left join back to the dense vertex set,
checkpointed by the frontier driver of plans/iterate.py (the join back
reads the previous iterate twice). Unlike PageRank there is no dangling
redistribution and no normalization, so a superstep has exactly ONE
shuffle (the dst aggregation) — the minimum any gather-scatter can do.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import Frontier
from ..session import shuffle_partitions
from .graph import vertices_from_edges


@dataclass
class KatzResult:
    scores: DataFrame  # (id: long, katz: double)
    iterations: int
    alpha: float
    beta: float
    metrics: list[dict] = field(default_factory=list)


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    max_iter: int = 20,
    vertices: DataFrame | None = None,
) -> KatzResult:
    """Fixed-iteration Katz centrality over directed ``edges(src, dst)``.

    alpha must satisfy alpha < 1/λ_max for the infinite series to
    converge; with a fixed ``max_iter`` the partial sum is well-defined
    for any alpha, and the driver oracle unrolls exactly the same
    partial sum, so no spectral estimate is needed here. Parallel edges
    contribute multiply (walk counting), matching the unrolled oracle.
    """
    num_parts = shuffle_partitions(edges.sparkSession)
    if vertices is None:
        vertices = vertices_from_edges(edges)
    verts = vertices.select("id")
    # one edge shuffle, reused by every superstep's gather join
    e = (
        edges.select("src", "dst")
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_edges = e.count()
    x = verts.select("id", F.lit(float(beta)).alias("katz"))
    if n_edges == 0:
        e.unpersist()
        return KatzResult(x, 0, alpha, beta, [])
    loop = Frontier(max_iter, key="iteration")
    x, _ = loop.checkpoint(x, into="katz", probe=None)
    a, b = F.lit(float(alpha)), F.lit(float(beta))
    for _ in loop.rounds():
        contrib = (
            e.join(x, e.src == x.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("katz").alias("contrib"))
        )
        x, _ = loop.checkpoint(
            verts.join(contrib, "id", "left").select(
                "id",
                (b + a * F.coalesce("contrib", F.lit(0.0))).alias("katz"),
            ),
            into="katz",
            probe=None,
        )
        loop.record()
    e.unpersist()
    return KatzResult(x, max_iter, alpha, beta, loop.metrics)
