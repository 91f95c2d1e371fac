"""Deterministic graph walks — reproducible random-walk corpus sampling.

No reference counterpart. Random-walk corpora are the standard input to
skip-gram graph embeddings (public method: DeepWalk, Perozzi KDD'14 /
node2vec, Grover KDD'16). A distributed engine wants the walks
*deterministic* — rerunnable, resumable, and oracle-checkable — so
instead of RNG state the next hop is chosen by a fixed integer selector:
from vertex ``cur`` at step ``t`` the walk moves to the out-neighbor
``dst`` minimizing

    score(cur, dst, t) = (A·(dst % M) + B·(cur % M) + C·t) % M

(ties broken by min dst). The selector is pure modular arithmetic on
longs — every engine computes it identically (no hash-function
divergence), all terms stay < (A+B+C)·M so it can never overflow — and
it varies with both position and step, so walks spread over neighbors
instead of always taking the same edge. One walk starts per distinct
source; a walk ends early when it reaches a sink.

Superstep shape: walk-state (walk_id, cur) joins edges shuffled on
cur=src, then a groupBy(walk_id) min(struct(score, dst)) picks the hop
with a map-side partial min — per step one edge-sized exchange plus one
walk-sized aggregate, each step's state checkpointed by the frontier
driver of plans/iterate.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.iterate import Frontier
from ..session import shuffle_partitions

WALK_MODULUS = 1_000_003  # prime; selector values land in [0, M)
WALK_A, WALK_B, WALK_C = 31, 17, 7


def _score(cur, dst, step: int):
    m = F.lit(WALK_MODULUS)
    return F.pmod(
        F.lit(WALK_A) * F.pmod(dst, m)
        + F.lit(WALK_B) * F.pmod(cur, m)
        + F.lit(WALK_C) * F.lit(step),
        m,
    )


@dataclass
class WalkResult:
    # (walk_id: long, step: long, vertex: long); step 0 = the source
    walks: DataFrame
    steps: int
    metrics: list[dict] = field(default_factory=list)


def deterministic_walks(
    edges: DataFrame,
    sources: DataFrame,
    walk_length: int = 8,
) -> WalkResult:
    """One deterministic walk of up to ``walk_length`` hops per distinct
    ``sources.id``, following min-selector hops (module docstring)."""
    num_parts = shuffle_partitions(edges.sparkSession)
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(num_parts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    loop = Frontier(walk_length, key="step")
    # no slot: ``rows`` unions every step's walk state
    state, n_alive = loop.checkpoint(
        sources.select("id")
        .distinct()
        .select(F.col("id").alias("walk_id"), F.col("id").alias("vertex"))
        .repartition(num_parts, "walk_id")
    )
    rows = state.withColumn("step", F.lit(0).cast("long"))
    loop.record(alive=n_alive, done=n_alive == 0)
    for t in loop.rounds():
        state, n_alive = loop.checkpoint(
            state.join(e, state.vertex == e.src)
            .select(
                "walk_id",
                F.struct(
                    _score(F.col("vertex"), F.col("dst"), t).alias("s"),
                    F.col("dst").alias("d"),
                ).alias("pick"),
            )
            .groupBy("walk_id")
            .agg(F.min("pick").alias("pick"))
            .select("walk_id", F.col("pick.d").alias("vertex"))
            .repartition(num_parts, "walk_id")
        )
        rows = rows.unionByName(
            state.withColumn("step", F.lit(t).cast("long"))
        )
        loop.record(alive=n_alive, done=n_alive == 0)
    e.unpersist()
    return WalkResult(
        rows.select("walk_id", "step", "vertex"), loop.steps, loop.metrics
    )


def walk_transitions(res: WalkResult) -> DataFrame:
    """→ (src, dst, n_walks): edge-traversal counts across all walks —
    the co-occurrence statistics an embedding trainer consumes."""
    w = res.walks
    nxt = w.select(
        "walk_id",
        (F.col("step") + 1).alias("step"),
        F.col("vertex").alias("src"),
    )
    return (
        nxt.join(w, ["walk_id", "step"])
        .select("src", F.col("vertex").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_walks"))
    )
