"""Maximal independent set by deterministic Luby rounds.

No reference counterpart (SURVEY.md §2 — the reference computes PageRank
only); MIS is the classic symmetry-breaking primitive of parallel graph
computing (Luby 1986, "A simple parallel algorithm for the maximal
independent set problem"): per round every still-active vertex draws a
priority, joins the set iff its priority beats every active neighbor's,
and winners plus their neighborhoods retire. Expected O(log n) rounds.

This implementation replaces Luby's random draw with the engine's
PORTABLE multiplicative hash (functions/splits.split_bucket) salted by
the round number — a fresh, uniform, but fully deterministic priority
per round. Determinism buys three things Luby's RNG cannot give a
cross-engine pipeline: bit-identical reruns on any cluster or
partitioning, a DuckDB oracle that replays the identical rounds
(driver query ``mis``), and a sequential pure-Python oracle for exact
pytest parity. The hash is uniform enough that the O(log n) expected
round count carries over in practice (the adversarial-input caveat of
any fixed hash applies; ``salt`` re-deals all priorities).

Priority comparison is on the pair ``(bucket, id)`` — a total order, so
ties between equal buckets cannot elect two adjacent vertices.

Superstep shape: one edge ⋈ priorities join shuffled on the edge key +
a per-vertex min aggregation (map-side partial), then two anti-joins
retiring winners and their neighbors; eager localCheckpoint per round
truncates lineage (the plans/iterate.py plan-doubling
hazard — the active set is referenced twice per round).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.splits import split_bucket
from ..session import shuffle_partitions
from .graph import symmetrize


@dataclass
class MisResult:
    members: DataFrame  # (id: long) — the independent set
    rounds: int
    converged: bool  # False iff max_iter hit with vertices still active
    metrics: list[dict] = field(default_factory=list)


def maximal_independent_set(
    edges: DataFrame,
    max_iter: int = 32,
    salt: int = 0,
) -> MisResult:
    """MIS over the undirected simple graph of ``edges(src, dst)``.

    Direction and multiplicity are irrelevant to independence — edges
    are symmetrized and deduped first; self-loops are dropped (a vertex
    is never its own neighbor). Isolated vertices never appear in
    ``edges`` and are by definition all members — callers wanting them
    can union the complement of the edge-endpoint set.
    """
    spark = edges.sparkSession
    num_parts = shuffle_partitions(spark)
    sym = (
        symmetrize(edges)
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    active = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .repartition(num_parts, "id")
        .localCheckpoint(eager=True)
    )
    n_active = active.count()
    members = spark.createDataFrame([], "id long")
    metrics: list[dict] = [{"round": 0, "active": n_active, "won": 0}]
    rounds = 0
    converged = n_active == 0
    while rounds < max_iter and n_active > 0:
        rounds += 1
        pri = active.select(
            "id",
            split_bucket(F.col("id"), salt=salt + rounds).alias("p"),
        )
        # min neighbor priority among ACTIVE neighbors (edges whose both
        # endpoints are still active); (p, id) lexicographic via struct
        live = (
            sym.join(pri.select(F.col("id").alias("src"),
                                F.col("p").alias("p_src")), "src")
            .join(pri.select(F.col("id").alias("dst"),
                             F.col("p").alias("p_dst")), "dst")
        )
        nbr_min = live.groupBy(F.col("src").alias("id")).agg(
            F.min(F.struct("p_dst", "dst")).alias("m")
        )
        winners = (
            pri.join(nbr_min, "id", "left")
            .filter(
                F.col("m").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("m"))
            )
            .select("id")
            .localCheckpoint(eager=True)
        )
        n_won = winners.count()
        retired_nbrs = (
            sym.join(winners.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        active = (
            active.join(winners, "id", "left_anti")
            .join(retired_nbrs, "id", "left_anti")
            .repartition(num_parts, "id")
            .localCheckpoint(eager=True)
        )
        n_active = active.count()
        members = members.unionByName(winners)
        metrics.append(
            {"round": rounds, "active": n_active, "won": n_won}
        )
        if n_active == 0:
            converged = True
    sym.unpersist()
    return MisResult(
        members.localCheckpoint(eager=True), rounds, converged, metrics
    )
