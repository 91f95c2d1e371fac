"""k-core decomposition by synchronous degree peeling.

No reference counterpart; standard published definition (Seidman 1983,
"Network structure and minimum degree"): the k-core is the maximal
subgraph of the undirected simple graph in which every vertex has degree
>= k. Computed by synchronously deleting all vertices of degree < k until
a fixpoint — each superstep is one degree aggregation plus two semi-joins
(no arrays, no windows), run on the frontier driver of plans/iterate.py,
which checkpoints each round's edge set: a round reads ``cur`` three
times (directly plus twice through ``keep``), the plan-doubling hazard
of that module.

Returns the surviving vertices with their degree inside the core.
Vertices outside the core are absent (an empty result means the k-core is
empty). Oracle-parity note: results depend only on the undirected simple
edge set, so the DuckDB oracle peels the identical symmetric CTE.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import Frontier
from ..session import shuffle_partitions
from .graph import symmetrize


@dataclass
class KCoreResult:
    core: DataFrame  # (id: long, core_deg: long)
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_iter: int = 100,
) -> KCoreResult:
    num_parts = shuffle_partitions(edges.sparkSession)
    loop = Frontier(max_iter)
    cur, n_edges = loop.checkpoint(
        symmetrize(edges).repartition(num_parts, "src"), into="edges"
    )
    for _ in loop.rounds():
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        # keep feeds BOTH semi-joins below — persist so the degree
        # aggregation runs once per round, not once per join side
        keep = (
            deg.filter(F.col("deg") >= k)
            .select("src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # delete every vertex below k simultaneously (synchronous round):
        # an edge survives iff BOTH endpoints survive. keep is shrunken
        # per round — semi-joins, never arrays.
        cur, n_next = loop.checkpoint(
            cur.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
            .repartition(num_parts, "src"),
            into="edges",
        )
        keep.unpersist()
        loop.record(
            edges=n_next, removed=n_edges - n_next, done=n_next == n_edges
        )
        n_edges = n_next
    core = cur.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("core_deg")
    )
    return KCoreResult(core, loop.steps, loop.converged, loop.metrics)
