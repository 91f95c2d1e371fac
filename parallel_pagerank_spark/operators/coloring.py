"""Greedy graph coloring by deterministic Jones-Plassmann rounds.

No reference counterpart (SURVEY.md §2 — the reference computes PageRank
only); coloring is the third classic parallel symmetry-breaking
primitive next to MIS and matching (Jones & Plassmann 1993, "A parallel
graph coloring heuristic", SIAM J. Sci. Comput.; Luby-style analysis
gives O(log n / log log n) expected rounds on bounded degree). Every
vertex draws a fixed priority; per round each still-uncolored vertex
whose priority is the strict minimum among its uncolored neighbors
colors itself with the SMALLEST color absent from its already-colored
neighborhood (the greedy mex rule — at most Δ+1 colors).

As in operators/mis.py the random draw is replaced by the engine's
PORTABLE multiplicative hash (one draw, NOT per round — Jones-Plassmann
priorities are fixed), totalized as (bucket, id): deterministic,
bit-identical across engines/partitionings, replayable by a DuckDB
oracle (driver query ``graph_coloring``) and a sequential pure-Python
oracle (pytest parity). Each round's frontier is an independent set by
the strict-local-min rule, so no two adjacent vertices ever pick a
color in the same round and the mex is well defined.

Superstep shape: one edge ⋈ priorities join + per-vertex min
aggregation finds the frontier; the mex is array-side whole-stage
codegen — ``array_min(array_except(sequence(0, |S|), S))`` over the
collect_set of colored-neighbor colors (|S|+1 candidates always
contain a free color; |S| <= degree, so the array stays
degree-bounded); two joins retire the frontier. The frontier driver of
plans/iterate.py checkpoints each round (uncolored and colored are each
read twice per round, that module's plan-doubling hazard).
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
class ColoringResult:
    colors: DataFrame  # (id: long, color: long)
    rounds: int
    converged: bool  # False iff max_iter hit with vertices uncolored
    n_colors: int
    metrics: list[dict] = field(default_factory=list)


def greedy_coloring(
    edges: DataFrame,
    max_iter: int = 64,
    salt: int = 0,
) -> ColoringResult:
    """Greedy (Δ+1)-coloring of the undirected simple graph of
    ``edges(src, dst)``. Self-loops are dropped (uncolorable);
    direction and multiplicity are irrelevant. Isolated vertices never
    appear in ``edges``; callers wanting them can union the complement
    with color 0.
    """
    spark = edges.sparkSession
    num_parts = shuffle_partitions(spark)
    sym = (
        symmetrize(edges)
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    # fixed priorities, one draw
    pri = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select(
            "id", split_bucket(F.col("id"), salt=salt).alias("p")
        )
        .repartition(num_parts, "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    loop = Frontier(max_iter, key="round")
    uncolored, n_active = loop.checkpoint(pri, into="uncolored")
    colored = spark.createDataFrame([], "id long, color long")
    loop.record(uncolored=n_active, done=n_active == 0)
    for _ in loop.rounds():
        # frontier: strict (p, id)-min among UNCOLORED neighbors
        live = sym.join(
            uncolored.select(F.col("id").alias("src"),
                             F.col("p").alias("p_src")), "src"
        ).join(
            uncolored.select(F.col("id").alias("dst"),
                             F.col("p").alias("p_dst")), "dst"
        )
        nbr_min = live.groupBy(F.col("src").alias("id")).agg(
            F.min(F.struct("p_dst", "dst")).alias("m")
        )
        frontier = (
            uncolored.join(nbr_min, "id", "left")
            .filter(
                F.col("m").isNull()
                | (F.struct(F.col("p"), F.col("id")) < F.col("m"))
            )
            .select("id")
        )
        # mex over already-colored neighbor colors
        nbr_colors = (
            sym.join(frontier.withColumnRenamed("id", "src"), "src")
            .join(
                colored.select(F.col("id").alias("dst"), "color"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.collect_set("color").alias("cs"))
        )
        # no slot: ``colored`` unions every round's newly colored
        newly, n_new = loop.checkpoint(
            frontier.join(nbr_colors, "id", "left").select(
                "id",
                F.coalesce(
                    F.array_min(
                        F.array_except(
                            F.sequence(
                                F.lit(0).cast("long"),
                                F.coalesce(
                                    F.size("cs"), F.lit(0)
                                ).cast("long"),
                            ),
                            F.coalesce(
                                F.col("cs"),
                                F.array().cast("array<long>"),
                            ),
                        )
                    ),
                    F.lit(0).cast("long"),
                ).alias("color"),
            )
        )
        colored = colored.unionByName(newly)
        uncolored, n_active = loop.checkpoint(
            uncolored.join(newly.select("id"), "id", "left_anti")
            .repartition(num_parts, "id"),
            into="uncolored",
        )
        loop.record(uncolored=n_active, colored=n_new, done=n_active == 0)
    sym.unpersist()
    pri.unpersist()
    colors = loop.consolidate(colored)
    n_colors = colors.agg(F.countDistinct("color")).first()[0]
    return ColoringResult(
        colors, loop.steps, loop.converged, n_colors, loop.metrics
    )
