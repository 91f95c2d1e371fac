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
retiring winners and their neighbors, run on the frontier driver of
plans/iterate.py (the active set is read twice per round, that module's
plan-doubling hazard).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.splits import split_bucket
from ..plans.iterate import Frontier
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
    loop = Frontier(max_iter, key="round")
    active, n_active = loop.checkpoint(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .repartition(num_parts, "id"),
        into="active",
    )
    members = spark.createDataFrame([], "id long")
    loop.record(active=n_active, won=0, done=n_active == 0)
    for step in loop.rounds():
        pri = active.select(
            "id",
            split_bucket(F.col("id"), salt=salt + step).alias("p"),
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
        # no slot: ``members`` unions every round's winners
        winners, n_won = loop.checkpoint(
            pri.join(nbr_min, "id", "left")
            .filter(
                F.col("m").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("m"))
            )
            .select("id")
        )
        retired_nbrs = (
            sym.join(winners.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        active, n_active = loop.checkpoint(
            active.join(winners, "id", "left_anti")
            .join(retired_nbrs, "id", "left_anti")
            .repartition(num_parts, "id"),
            into="active",
        )
        members = members.unionByName(winners)
        loop.record(active=n_active, won=n_won, done=n_active == 0)
    sym.unpersist()
    return MisResult(
        loop.consolidate(members), loop.steps, loop.converged, loop.metrics
    )
