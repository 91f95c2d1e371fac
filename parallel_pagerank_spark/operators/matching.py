"""Maximal matching by deterministic local-max edge rounds.

No reference counterpart (SURVEY.md §2 — the reference computes PageRank
only); matching is the other classic parallel symmetry-breaking
primitive next to MIS (Israeli & Itai 1986; Preis 1999 "locally
heaviest" / local-max matching; Birn et al. ESA 2013 show O(log m)
rounds with random priorities). Per round every still-active edge draws
a priority; an edge joins the matching iff its priority is the strict
minimum among all active edges sharing EITHER endpoint; winners'
endpoints retire together with every incident edge.

As in operators/mis.py, the random draw is replaced by the engine's
PORTABLE multiplicative hash over the packed edge key
``u * 2^31 + v`` salted by the round number — deterministic,
bit-identical across engines and partitionings, replayable by a DuckDB
oracle (driver query ``maximal_matching``) and a sequential pure-Python
oracle (pytest parity). Priorities are totalized as the lexicographic
triple ``(bucket, u, v)`` so two incident edges can never both win.

The packed key requires vertex ids < 2^31 (the same bound the MIS
oracle documents); ids at hash magnitude fail fast rather than silently
alias. At 100 TB scale the round is: one explode of active edges to
their two endpoints, one min-struct hash aggregation per endpoint
(map-side partial), one join back, and two anti-joins retiring matched
endpoints — everything keyed on vertex ids, nothing quadratic; the
frontier driver of plans/iterate.py checkpoints each round (the active
set is read three times per round, that module's plan-doubling hazard).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..functions.splits import split_bucket
from ..plans.iterate import Frontier
from ..session import shuffle_partitions
from .graph import canonical_edges

_ID_BOUND = 2_147_483_648  # 2^31 — packed-key safety bound


@dataclass
class MatchingResult:
    pairs: DataFrame  # (u: long, v: long) with u < v — the matching
    rounds: int
    converged: bool  # False iff max_iter hit with edges still active
    metrics: list[dict] = field(default_factory=list)


def maximal_matching(
    edges: DataFrame,
    max_iter: int = 32,
    salt: int = 0,
) -> MatchingResult:
    """Maximal matching over the undirected simple graph of
    ``edges(src, dst)``.

    Direction and multiplicity are irrelevant — edges are canonicalized
    to ``u < v`` and deduped; self-loops are dropped (a vertex cannot
    match itself).
    """
    spark = edges.sparkSession
    num_parts = shuffle_partitions(spark)
    loop = Frontier(max_iter, key="round")
    active = loop.cache(
        canonical_edges(edges).repartition(num_parts, "u"), into="active"
    )
    bad = active.filter(
        (F.col("u") < 0) | (F.col("v") >= F.lit(_ID_BOUND))
    ).limit(1).count()
    if bad:
        raise ValueError(
            "maximal_matching packed priorities need vertex ids in "
            f"[0, 2^31); got ids outside — remap to dense ids first"
        )
    n_active = active.count()
    matched = spark.createDataFrame([], "u long, v long")
    loop.record(active=n_active, won=0, done=n_active == 0)
    for step in loop.rounds():
        keyed = active.select(
            "u",
            "v",
            split_bucket(
                F.col("u") * F.lit(_ID_BOUND) + F.col("v"),
                salt=salt + step,
            ).alias("p"),
        )
        pri = F.struct("p", "u", "v")
        inc = keyed.select(
            F.col("u").alias("ep"), pri.alias("e")
        ).unionByName(keyed.select(F.col("v").alias("ep"), pri.alias("e")))
        mins = inc.groupBy("ep").agg(F.min("e").alias("m"))
        # no slot: ``matched`` unions every round's winners
        winners, n_won = loop.checkpoint(
            keyed.join(
                mins.select(F.col("ep").alias("u"), F.col("m").alias("mu")),
                "u",
            )
            .join(
                mins.select(F.col("ep").alias("v"), F.col("m").alias("mv")),
                "v",
            )
            .filter((pri == F.col("mu")) & (pri == F.col("mv")))
            .select("u", "v")
        )
        taken = (
            winners.select(F.col("u").alias("ep"))
            .unionByName(winners.select(F.col("v").alias("ep")))
            .distinct()
        )
        active, n_active = loop.checkpoint(
            active.join(
                taken.withColumnRenamed("ep", "u"), "u", "left_anti"
            )
            .join(taken.withColumnRenamed("ep", "v"), "v", "left_anti")
            .select("u", "v")
            .repartition(num_parts, "u"),
            into="active",
        )
        matched = matched.unionByName(winners)
        loop.record(active=n_active, won=n_won, done=n_active == 0)
    return MatchingResult(
        loop.consolidate(matched), loop.steps, loop.converged, loop.metrics
    )
