"""k-core decomposition by synchronous degree peeling.

No reference counterpart; standard published definition (Seidman 1983,
"Network structure and minimum degree"): the k-core is the maximal
subgraph of the undirected simple graph in which every vertex has degree
>= k. Computed by synchronously deleting all vertices of degree < k until
a fixpoint — each superstep is one degree aggregation plus two semi-joins
(no arrays, no windows), the same persist/truncate superstep skeleton as
CC/LPA. The per-round eager localCheckpoint is NOT optional: the loop
references ``cur`` three times per round (directly plus twice through
``keep``), so an un-truncated logical plan grows ~3^rounds and the
analyzer's self-join attribute deduplication pins the driver CPU long
before the job itself is expensive (the plan-doubling hazard documented
at plans/iterate.py).

Returns the surviving vertices with their degree inside the core.
Vertices outside the core are absent (an empty result means the k-core is
empty). Oracle-parity note: results depend only on the undirected simple
edge set, so the DuckDB oracle peels the identical symmetric CTE.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

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
    cur = (
        symmetrize(edges)
        .repartition(num_parts, "src")
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()
    metrics: list[dict] = []
    steps = 0
    converged = False
    while steps < max_iter:
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
        # eager localCheckpoint materializes AND truncates lineage so the
        # next round's plan starts from a flat LogicalRDD, not a tree that
        # triples in depth per round
        nxt = (
            cur.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
            .repartition(num_parts, "src")
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        keep.unpersist()
        steps += 1
        metrics.append(
            {"superstep": steps, "edges": n_next, "removed": n_edges - n_next}
        )
        cur = nxt  # old checkpoint RDDs are released by the ContextCleaner
        if n_next == n_edges:
            converged = True
            break
        n_edges = n_next
    core = cur.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("core_deg")
    )
    return KCoreResult(core, steps, converged, metrics)
