"""k-truss decomposition by synchronous support peeling with
INCREMENTAL support maintenance.

No reference counterpart; standard published definition (Cohen 2008,
"Trusses: cohesive subgraphs for social network analysis"; distributed
algorithms in Wang & Cheng, VLDB 2012): the k-truss is the maximal
subgraph in which every edge participates in at least k-2 triangles
*within the subgraph*. Computed by synchronous peeling — repeat
{ drop edges with support < k-2; subtract the support those edges'
triangles carried } until no edge drops. The fixpoint is unique
(truss containment is monotone under edge deletion), which also makes
a fixed-depth unrolled SQL oracle exact whenever it runs past the
measured convergence round.

Superstep shape (scale design): triangles are enumerated in FULL
exactly ONCE, up front — every triangle a<b<c appears exactly once
because all three edges are canonical (u < v), so support counting
needs no dedup. Each peeling round after that is FRONTIER-PROPORTIONAL
(the r3 verdict's scale fix): only triangles touching a dropped edge
are re-derived, by joining the dropped set D against the current edge
set on each of the three sides (|D| × adjacency work, never a second
full wedge enumeration), deduped per triangle so a triangle losing two
edges in one round still decrements its surviving side exactly once.
Support is then maintained by subtraction — an anti-join removes D, a
left join applies the decrements. All joins are keyed on edge
endpoints; the per-round state (edge set + support) is checkpointed by
the frontier driver of plans/iterate.py (the loop references it five
times — three triangle sides, the anti-join, and the decrement join —
the plan-doubling hazard of that module), and one action per round
counts both the surviving edges and the next round's drops.
For hub-skewed graphs the initial wedge join is the classic candidate
for degree orientation (enumerate from the lower-degree endpoint,
triangles.py:34 does this for counting); the ordered a<b<c form used
here keeps support attribution trivially exact and is the same plan
the oracle mirrors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..plans.iterate import Frontier
from ..session import shuffle_partitions


@dataclass
class TrussResult:
    truss_edges: DataFrame  # (u: long, v: long, support: long), u < v
    rounds: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # number of FULL triangle enumerations performed (scale contract:
    # exactly 1 regardless of peel depth — pinned by test_plan_shape)
    full_enumerations: int = 0


def _support(cur: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (u < v) edge set.
    Edges in no triangle get NO row (support 0). This is the one FULL
    enumeration; every subsequent round re-derives only the dropped
    frontier's triangles (see _dropped_triangles)."""
    ab = cur.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = cur.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = cur.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    sides = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
    )
    return sides.groupBy("u", "v").agg(F.count("*").alias("support"))


def _dropped_triangles(cur: DataFrame, drop: DataFrame) -> DataFrame:
    """Distinct triangles (a < b < c) over edge set ``cur`` that contain
    at least one edge of ``drop`` (a subset of cur). Each of the three
    sides takes a turn being the dropped one; the union is deduped so a
    triangle with 2-3 dropped sides appears once. Frontier-proportional:
    every join has the dropped set as one side."""
    ab = cur.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = cur.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = cur.select(F.col("u").alias("a"), F.col("v").alias("c"))
    d_ab = drop.select(F.col("u").alias("a"), F.col("v").alias("b"))
    d_bc = drop.select(F.col("u").alias("b"), F.col("v").alias("c"))
    d_ac = drop.select(F.col("u").alias("a"), F.col("v").alias("c"))
    t1 = d_ab.join(bc, "b").join(ac, ["a", "c"])
    t2 = ab.join(d_bc, "b").join(ac, ["a", "c"])
    t3 = ab.join(bc, "b").join(d_ac, ["a", "c"])
    return (
        t1.select("a", "b", "c")
        .unionAll(t2.select("a", "b", "c"))
        .unionAll(t3.select("a", "b", "c"))
        .distinct()
    )


def k_truss(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 50,
) -> TrussResult:
    """k-truss of the UNDIRECTED simple graph under ``edges(src, dst)``
    (direction and multiplicity are ignored: edges are canonicalized to
    distinct u < v pairs; self-loops dropped — a triangle is three
    distinct vertices). k must be >= 3; the 2-truss is the whole simple
    graph."""
    if k < 3:
        raise ValueError(f"k must be >= 3 (the {k}-truss is trivial)")
    num_parts = shuffle_partitions(edges.sparkSession)
    s, d = F.col("src"), F.col("dst")
    thresh = k - 2
    drops = F.col("support") < thresh

    def edges_and_drops(df: DataFrame) -> tuple[int, int]:
        row = df.agg(F.count("*"), F.sum(drops.cast("long"))).first()
        return row[0], row[1] or 0

    loop = Frontier(max_rounds, key="round")
    cur, _ = loop.checkpoint(
        edges.select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(num_parts, "u"),
        into="support",
        probe=None,
    )
    # one full enumeration; support carried as maintained state from here
    sup, (n_cur, n_drop) = loop.checkpoint(
        cur.join(_support(cur), ["u", "v"], "left")
        .select(
            "u", "v", F.coalesce("support", F.lit(0)).alias("support")
        )
        .repartition(num_parts, "u"),
        into="support",
        probe=edges_and_drops,
    )
    loop.record(edges=n_cur, done=n_drop == 0)
    for _ in loop.rounds():
        drop = sup.filter(drops).select("u", "v")
        tri_d = _dropped_triangles(sup.select("u", "v"), drop)
        # decrements: each dropped triangle subtracts 1 from each of its
        # SURVIVING sides (sides that are themselves dropping carry no
        # support forward — the anti-join below removes them anyway)
        sides = (
            tri_d.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(
                tri_d.select(F.col("b").alias("u"), F.col("c").alias("v"))
            )
            .unionAll(
                tri_d.select(F.col("a").alias("u"), F.col("c").alias("v"))
            )
        )
        dec = sides.groupBy("u", "v").agg(F.count("*").alias("lost"))
        dropped = n_drop
        sup, (n_cur, n_drop) = loop.checkpoint(
            sup.join(drop, ["u", "v"], "left_anti")
            .join(dec, ["u", "v"], "left")
            .select(
                "u",
                "v",
                (
                    F.col("support") - F.coalesce("lost", F.lit(0))
                ).alias("support"),
            )
            .repartition(num_parts, "u"),
            into="support",
            probe=edges_and_drops,
        )
        loop.record(edges=n_cur, dropped=dropped, done=n_drop == 0)
    # maintained support IS the within-subgraph support at the fixpoint
    # (induction: full enumeration at round 0, exact decrements since) —
    # no final recomputation needed; parity tests compare both.
    return TrussResult(sup, loop.steps, loop.converged, loop.metrics, 1)
